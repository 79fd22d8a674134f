package graft.ext

import org.apache.spark.sql.functions._

import graft.{Exact, SparkSuite}
import graft.model.Tables
import graft.queries.Analytics

/** Semantics tests for the round-3 operators: embedding near-dup recall on
  * injected pairs, IVF cell structure and probe consistency, centroid
  * algebra, sessionization invariants, rolling-fingerprint order
  * sensitivity, and the Q9 join shape.
  */
class NewOpsSpec extends SparkSuite {

  test("pack lookup: every probe resolves to exactly the owning doc; offsets in bounds") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    // local layout replay: gapless prefix sum in doc_id order
    var off = 0L
    val layout = docs.map { case (id, src, t) =>
      val n = t.split(" ").length.toLong
      val row = (id, src, off, n); off += n; row
    }
    val total = off
    val expected = (0L until TextOps.packProbeCount).map { k =>
      val o = k * total / TextOps.packProbeCount
      val (id, src, ts, _) = layout
        .find(d => o >= d._3 && o < d._3 + d._4)
        .getOrElse(fail(s"probe $o owns no doc"))
      k -> ((o, o / TextOps.packChunkTokens, id, src, o - ts))
    }.toMap
    val out = TextOps.qDocPackLookup(spark, sf).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[Long]("offset"),
        r.getAs[Long]("chunk"), r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[Long]("off_in_doc"))))
    // exactly one owner per probe — the boundary-chunk equi-join must
    // not double-match a neighbor
    assert(out.length === TextOps.packProbeCount,
      s"expected ${TextOps.packProbeCount} rows, got ${out.length}")
    assert(out.toMap === expected)
    out.foreach { case (_, (_, _, id, _, oid)) =>
      val n = layout.find(_._1 == id).get._4
      assert(oid >= 0 && oid < n, s"off_in_doc $oid out of [0, $n) for doc $id")
    }
  }

  test("dup matrix: cells replay from the engine's organic pair set; shares close") {
    val pairs = Dedup.qDocMinhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard")))
      .filter(p => p._1 < 100000L && p._2 < 100000L)
    spark.catalog.clearCache()
    val src = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = pairs
      .map { case (a, b, j) =>
        val (sa, sb) = (src(a), src(b))
        ((if (sa <= sb) sa else sb, if (sa <= sb) sb else sa), j)
      }
      .groupBy(_._1).map { case ((sa, sb), xs) =>
        (sa, sb) -> ((xs.length.toLong, sa == sb,
          xs.map(_._2).min, xs.map(_._2).max,
          xs.length.toDouble / pairs.length))
      }
    val out = Dedup.qDocDupMatrix(spark, sf).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Boolean]("within_source"),
          r.getAs[Double]("min_jaccard"), r.getAs[Double]("max_jaccard"),
          r.getAs[Double]("share")))).toMap
    assert(out.keySet === expected.keySet)
    expected.foreach { case (k, e) =>
      assert(out(k) === e, s"cell $k: ${out(k)} != $e")
    }
    // canonical orientation + share closure over the whole matrix
    out.keys.foreach { case (a, b) => assert(a <= b, s"uncanonical cell ($a,$b)") }
    assert(math.abs(out.values.map(_._5).sum - 1.0) < 1e-9)
    spark.catalog.clearCache()
  }

  test("HLL sketch lands within tolerance of the exact distinct counts") {
    // The oracle-checked columns of q_approx_distinct are the exact
    // two-phase counts plus a within-±15% flag; the quantitative
    // sketch-vs-exact claim lives here. At these cardinalities (20
    // sources, 10 labels) HLL++ runs in sparse mode and the estimate
    // should be EXACT; assert the tight bound, not just the 15% band.
    val rows = Similarity.qApproxDistinct(spark, sf).collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[Boolean]("approx_ok")))
    val approx = Tables.documents(spark, sf)
      .agg(approx_count_distinct(col("source"), 0.05)).head.getLong(0)
    val exact = rows.find(_.getAs[String]("scope") == "documents.source")
      .get.getAs[Long]("exact_nd")
    assert(math.abs(approx - exact) <= math.max(1L, (exact * 0.05).toLong),
      s"HLL estimate $approx vs exact $exact")
  }

  test("embedding near-dup: only injected pairs survive, cosine above threshold") {
    val pairs = Similarity.qEmbNearDup(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"), r.getAs[Double]("cosine")))
    assert(pairs.nonEmpty)
    // background max cosine is ~0.5, injected ~0.89 — every surviving pair
    // must be an injected (source, source+100000) pair
    assert(pairs.forall { case (a, b, c) =>
      b === a + 100000 && a % 25 === 0 && c >= Similarity.nearDupThreshold && c <= 1.0
    })
  }

  test("semantic dedup: flags are exactly the within-cell injected copies, never the originals") {
    val rows = Similarity.qEmbSemDedup(spark, sf).collect()
    val nEmb = Tables.embeddings(spark, sf).count()
    val nInjected = Tables.embeddings(spark, sf).filter(col("vec_id") % 25 === 0).count()
    assert(rows.length === nEmb + nInjected, "one output row per corpus vector")
    val flagged = rows.filter(_.getAs[Boolean]("is_sem_dup")).map(_.getAs[Long]("vec_id"))
    // background max cosine ≈ 0.51 < 0.8 threshold: ONLY injected copies can
    // flag, and only when the perturbation kept them in their source's cell
    assert(flagged.forall(_ >= 100000L), s"non-injected vector flagged: ${flagged.mkString(",")}")
    // cell-boundary crossings lose some copies (inherent to cluster-bounded
    // dedup, deterministic here); the recall floor pins the rest (13/20 at
    // this fixture, 15/20 at sf0.01 — the oracle checks exact equality)
    assert(flagged.length >= (nInjected * 6) / 10,
      s"recall floor: ${flagged.length}/$nInjected flagged")
    // the global-min id can never drop (no smaller-id neighbor exists)
    assert(!rows.find(_.getAs[Long]("vec_id") === 0L).exists(_.getAs[Boolean]("is_sem_dup")))
  }

  test("IVF: every vector lands in exactly one cell; probe results share the query's cell") {
    val nVecs = Tables.embeddings(spark, sf).count()
    // re-derive assignment cardinality through the public query: each of the
    // q-vectors produces at most topK rows, all tagged with ONE cell
    val rows = Similarity.qEmbAnnIvf(spark, sf).collect()
    assert(rows.nonEmpty && nVecs > 0)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("cell")).distinct.length === 1) // nprobe=1
      val byRank = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(byRank.zip(byRank.tail).forall { case (hi, lo) => hi >= lo })
    }
  }

  test("label centroids: k×dim rows, and each centroid is the mean of its members") {
    val emb = Tables.embeddings(spark, sf)
    val k = emb.select("label").distinct().count()
    val cent = Similarity.qEmbLabelCentroids(spark, sf).collect()
    assert(cent.length === k * Similarity.embDim)
    // spot-check one (label, i) against a directly computed mean
    val label0 = cent.filter(r => r.getAs[Int]("label") === 0 && r.getAs[Int]("i") === 1).head
    val members = emb.filter(col("label") === 0)
      .select(element_at(col("embedding"), 1).cast("double")).collect().map(_.getDouble(0))
    assert(math.abs(label0.getAs[Double]("c") - members.sum / members.length) < 1e-9)
  }

  test("event sessions: counts sum to the event count, ends = last event + gap") {
    val sessions = Analytics.qEventSessions(spark, sf).collect()
    val nEvents = Tables.events(spark, sf).count()
    assert(sessions.map(_.getAs[Long]("n_events")).sum === nEvents)
    assert(sessions.length < nEvents) // the gap actually merges events
    // session windows of one user never overlap
    sessions.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("session_start").getTime)
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a.getAs[java.sql.Timestamp]("session_end").getTime <=
          b.getAs[java.sql.Timestamp]("session_start").getTime +
            Analytics.sessionGapHours * 3600L * 1000L)
      }
    }
  }

  test("rolling fingerprint is order-sensitive where content_fp input set is equal") {
    val spark0 = spark
    import spark0.implicits._
    // same token multiset, different order → same token-hash SET but
    // different rolling fp
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
    df.createOrReplaceTempView("nos_docs")
    val fp = spark.sql(
      s"""SELECT doc_id, aggregate(transform(split(text, ' '),
         |  s -> ${Exact.h31ExprSql("s")}),
         |  0L, (acc, h) -> (acc * ${Dedup.rollingBase} + h) % ${Exact.HashP}) AS fp
         |FROM nos_docs""".stripMargin).collect().map(_.getLong(1))
    assert(fp(0) !== fp(1))
  }

  test("ANN recall: IVF and LSH probes recover a meaningful share of the exact top-k") {
    def topSets(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("q_id")).view
        .mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val exact = topSets(Similarity.qEmbCosineTopk(spark, sf).collect())
    val ivf = topSets(Similarity.qEmbAnnIvf(spark, sf).collect())
    val lsh = topSets(Similarity.qEmbAnnLsh(spark, sf).collect())
    assert(exact.nonEmpty)
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val hits = exact.map { case (q, t) => approx.getOrElse(q, Set.empty).intersect(t).size }.sum
      hits.toDouble / exact.values.map(_.size).sum
    }
    // nprobe=1 IVF and a single 4-plane sign table both trade recall for
    // touching ~1/cells of the corpus — measured on this corpus: IVF 0.13
    // (40 label cells over 200 vectors is a BRUTAL quantizer at nprobe=1),
    // LSH higher (16 buckets). The floors pin the deterministic quality so
    // a bucketing regression fails CI rather than silently zeroing recall;
    // production raises nprobe / OR's tables for real recall targets
    // (qEmbNearDup's 6-table construction is the corpus-mining variant).
    assert(recall(ivf) >= 0.1, s"IVF recall ${recall(ivf)}")
    assert(recall(lsh) >= 0.2, s"LSH recall ${recall(lsh)}")
  }

  test("IVF/k-means centroid assignment is NARROW — zero exchange between scan and cell") {
    // the VERDICT-r4 scale-killer: the old window-argmin exchanged all N×k
    // crossed rows on vec_id. probeCells must add NO exchange of any kind
    // over the corpus: with a literal quantizer the whole assignment plan
    // (scan → project → 1-row broadcast nested-loop → fold) is exchange-free.
    val centArr = spark.range(1).select(typedlit(
        Seq((0, Seq.fill(Similarity.embDim)(0.1), 1.0),
            (1, Seq.fill(Similarity.embDim)(-0.1), 1.0)))
      .cast("array<struct<c_label:int,cv:array<double>,cc:double>>").as("cents"))
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
    val assigned = Similarity.probeCells(emb, centArr, nprobe = 1)
    val p = assigned.queryExecution.sparkPlan.toString
    assert(!p.contains("Exchange"), s"exchange in assignment plan:\n$p")
    assert(!p.contains("Window"), s"window in assignment plan:\n$p")
    // and it still assigns every vector exactly once
    assert(assigned.count() === Tables.embeddings(spark, sf).count())
  }

  test("IVF nprobe: recall rises monotonically with probed cells, floors pinned") {
    def topSets(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("q_id")).view
        .mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val exact = topSets(Similarity.qEmbCosineTopk(spark, sf).collect())
    def recall(nprobe: Int): Double = {
      val approx = topSets(Similarity.qEmbAnnIvfNprobe(spark, sf, nprobe).collect())
      exact.map { case (q, t) => approx.getOrElse(q, Set.empty).intersect(t).size }.sum
        .toDouble / exact.values.map(_.size).sum
    }
    val r1 = recall(1)
    val r2 = recall(2)
    val r4 = recall(4)
    // candidate sets are supersets as nprobe grows → recall is monotone;
    // measured on this corpus: 0.13 @ nprobe=1 (the pinned floor below),
    // and probing more of the 40 cells must strictly help this brutal
    // quantizer — the floors pin the knob actually working
    assert(r1 >= 0.1, s"nprobe=1 recall $r1")
    assert(r2 >= r1 && r4 >= r2, s"recall not monotone: $r1 / $r2 / $r4")
    assert(r4 >= 0.3, s"nprobe=4 recall $r4 should clear 0.3")
  }

  test("multi-iteration k-means: WCSS is monotone non-increasing over 4 iterations") {
    val (finalCents, wcss) = Similarity.kmeans(spark, sf, k = 8, iters = 4)
    assert(wcss.length === 4)
    wcss.zip(wcss.tail).foreach { case (prev, next) =>
      assert(next <= prev + 1e-9, s"WCSS increased: $wcss")
    }
    assert(wcss.last < wcss.head, s"WCSS never improved over init: $wcss")
    // final centroids stay in the long (cell, i, c, n_members) contract
    val rows = finalCents.collect()
    assert(rows.nonEmpty)
    val cells = rows.map(_.getAs[Int]("cell")).distinct
    assert(cells.length <= 8)
    assert(rows.length === cells.length * Similarity.embDim)
    spark.catalog.clearCache() // kmeans persists the corpus for its iterations
  }

  test("minhash bucket cap: a mega-bucket cannot go quadratic; normal pairs survive") {
    val spark0 = spark
    import spark0.implicits._
    // 300 identical boilerplate docs land in ONE band bucket per band
    // (identical text → identical signature): uncapped, that is
    // 300·299/2 ≈ 45k candidate pairs from four keys; the cap drops the
    // over-sized buckets entirely. Two distinct near-dup docs (plus one
    // unrelated doc) keep their own size-2 buckets and must still pair.
    val boiler = (0 until 300).map(i =>
      (1000L + i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"))
    val pairDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu extra"),
      (3L, "completely different tokens about weather patterns and ocean currents today"))
    val corpus = (boiler ++ pairDocs).toDF("doc_id", "text")
    val shingled = corpus
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", s"${Dedup.hashSetExpr} AS hs")
    val cand = Dedup.bandedCandidates(shingled).collect()
    // bounded: no pair involves two boilerplate clones (their buckets are
    // over-cap), but the injected near-dup pair is still mined
    assert(!cand.exists(r => r.getLong(0) >= 1000L && r.getLong(1) >= 1000L),
      s"mega-bucket pairs leaked: ${cand.length}")
    assert(cand.exists(r => r.getLong(0) === 1L && r.getLong(1) === 2L),
      s"near-dup pair lost: ${cand.mkString(",")}")
    assert(cand.length < 50, s"candidate count not bounded: ${cand.length}")
  }

  test("decontamination: every injected benchmark copy is flagged with near-total overlap") {
    val rows = Dedup.qDocDecontam(spark, sf).collect()
    val flagged = rows.map(_.getAs[Long]("doc_id")).toSet
    val nEval = Tables.documents(spark, sf)
      .filter(col("doc_id") % 50 === 0).collect().map(_.getAs[Long]("doc_id"))
    assert(nEval.nonEmpty)
    // every injected contaminated doc (eval text embedded in new prose,
    // id → −id−1: the negative id space is disjoint from real ids) flags
    nEval.foreach(id => assert(flagged.contains(-id - 1), s"missed injected ${-id - 1}"))
    // injected docs carry ALL of the eval doc's 8-grams; the ratio
    // denominator also counts the wrapper's boundary grams, so short eval
    // docs sit well below 1.0 — but far above what a stray phrase hit gives
    rows.filter(_.getAs[Long]("doc_id") < 0).foreach { r =>
      assert(r.getAs[Double]("overlap_ratio") > 0.2,
        s"injected doc ${r.getAs[Long]("doc_id")} ratio ${r.getAs[Double]("overlap_ratio")}")
      assert(r.getAs[Long]("n_overlap") <= r.getAs[Long]("n_ngrams"))
    }
    // 8-gram decontam is SELECTIVE: genuine-phrase collisions stay rare,
    // so flagged clean-training docs are a small fraction of the corpus
    val nTrain = Tables.documents(spark, sf).filter(col("doc_id") % 50 =!= 0).count()
    assert(rows.count(_.getAs[Long]("doc_id") >= 0) < nTrain / 10)
  }

  test("document packing: offsets lay docs end-to-end per (lang, shard) within the budget") {
    val rows = TextOps.qDocPack(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val off = r.getAs[Long]("seq_offset")
      assert(off >= 0 && off < TextOps.packBudget)
      assert(r.getAs[Long]("shard") >= 0 && r.getAs[Long]("shard") < TextOps.packShards)
    }
    // within a stratum, start offsets are the running token total in
    // doc_id order — recompute the layout and compare doc-for-doc
    rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard"))).foreach {
      case (_, rs) =>
        var cum = 0L
        rs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
          assert(r.getAs[Long]("seq_id") === cum / TextOps.packBudget)
          assert(r.getAs[Long]("seq_offset") === cum % TextOps.packBudget)
          cum += r.getAs[Long]("n_tokens")
        }
    }
  }

  test("PII redaction: injected contacts counted and scrubbed, clean docs untouched") {
    val rows = TextOps.qDocRedact(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 10 == 0) {
        assert(r.getAs[Long]("n_emails") === 2L, s"doc $id emails")
        assert(r.getAs[Long]("n_phones") === 1L, s"doc $id phones")
      } else {
        assert(r.getAs[Long]("n_emails") === 0L, s"doc $id emails")
        assert(r.getAs[Long]("n_phones") === 0L, s"doc $id phones")
      }
    }
    // redaction is idempotent on clean docs: fp equals the raw text hash
    val spark0 = spark
    import spark0.implicits._
    val raw = Tables.documents(spark, sf).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), Exact.portableHash(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    rows.filter(_.getAs[Long]("doc_id") % 10 != 0).foreach { r =>
      assert(r.getAs[Long]("redacted_fp") === raw(r.getAs[Long]("doc_id")))
    }
  }

  test("int8 quantization: reconstruction error bounded by scale/2, cosine preserved") {
    val rows = Similarity.qEmbQuantize(spark, sf).collect()
    assert(rows.length === Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      assert(scale > 0)
      // per-element reconstruction error is at most scale/2 by construction
      assert(r.getAs[Double]("rmse") <= scale / 2 + 1e-12,
        s"vec ${r.getAs[Long]("vec_id")} rmse ${r.getAs[Double]("rmse")} scale $scale")
      // 8-bit symmetric quantization keeps cosine within ~1%
      assert(r.getAs[Double]("cos_err") < 0.01,
        s"vec ${r.getAs[Long]("vec_id")} cos_err ${r.getAs[Double]("cos_err")}")
      assert(math.abs(r.getAs[Double]("cos_exact")) <= 1.0 + 1e-12)
    }
    // the self-pair is exact in both spaces
    val self = rows.find(_.getAs[Long]("vec_id") == 0L).get
    assert(math.abs(self.getAs[Double]("cos_exact") - 1.0) < 1e-12)
    assert(math.abs(self.getAs[Double]("cos_quant") - 1.0) < 1e-12)
  }

  test("dup clusters: components match a local union-find over the verified pairs") {
    val pairs = Dedup.qDocMinhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)
    // local union-find reference
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val rows = Dedup.qDocDupClusters(spark, sf).collect()
    assert(rows.length === expected.size)
    rows.foreach { r =>
      val (id, cl) = (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))
      assert(cl === expected(id), s"doc $id: got $cl, want ${expected(id)}")
    }
    // cluster_size is consistent within clusters and sums to the node count
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("cluster_size")).distinct.length === 1)
      assert(rs.head.getAs[Long]("cluster_size") === rs.length)
    }
    spark.catalog.clearCache()
  }

  test("PQ ADC: planted clusters — compression preserves the exact top-k") {
    import spark.implicits._
    // 10 well-separated centers (distinct active dims at 10.0) with tiny
    // deterministic per-member noise; 6 members per cluster, queries are
    // ids 0..2 (clusters 0..2), so each query's 5 same-cluster candidates
    // are BOTH the exact L2 top-5 and what PQ must return after 64→4-code
    // compression (between-cluster ADC gaps dwarf quantization error)
    val k = 10
    def noise(id: Int, i: Int): Float = (((id * 31 + i * 17) % 7) - 3) * 0.05f
    val rows = (0 until 60).map { id =>
      val l = id % k
      (id.toLong,  l,
        (0 until Similarity.embDim).map(i =>
          (if (i % k == l) 10f else 0f) + noise(id, i)))
    }
    val out = Similarity.pqAdcOf(rows.toDF("vec_id", "label", "embedding")).collect()
    assert(out.length === Similarity.nQueryVecs * Similarity.topK)
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (qId, rs) =>
      val expected = (3 until 60).filter(_ % k == qId).map(_.toLong).toSet
      assert(rs.map(_.getAs[Long]("vec_id")).toSet === expected, s"query $qId")
      // same-cluster ADC distances are quantization-noise-sized, nowhere
      // near the ≳1200 between-cluster gap
      assert(rs.forall(_.getAs[Double]("adc_dist") < 100.0))
    }
    spark.catalog.clearCache()
  }

  test("PQ ADC on testdata: deterministic, ascending per query, k rows each") {
    val out = Similarity.qEmbPqAdc(spark, sf).collect()
    assert(out.length === Similarity.nQueryVecs * Similarity.topK)
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      val ds = rs.sortBy(_.getAs[Long]("vec_id"))
        .sortBy(_.getAs[Double]("adc_dist")).map(_.getAs[Double]("adc_dist"))
      assert(ds.forall(_ >= 0.0))
    }
    val again = Similarity.qEmbPqAdc(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    spark.catalog.clearCache()
  }

  test("q9: every (nation, brand) group joins through filtered parts only") {
    val rows = Analytics.q9ProductProfit(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_lineitems") > 0))
    val nations = Tables.nation(spark, sf).count()
    assert(rows.map(_.getAs[String]("nation")).distinct.length <= nations)
  }

  test("rproj: bit-exact vs a local sequential recompute, linear, narrow") {
    val out = Similarity.qEmbRproj(spark, sf).collect()
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    assert(out.length === embs.size)
    val scale = math.sqrt(Similarity.rprojK.toDouble)
    out.foreach { r =>
      val e = embs(r.getAs[Long]("vec_id"))
      (0 until Similarity.rprojK).foreach { j =>
        // mirror VectorDot: strict left-to-right double accumulation
        var s = 0.0
        var i = 0
        while (i < e.length) {
          s += e(i).toDouble * Similarity.rprojSign(j, i).toDouble
          i += 1
        }
        assert(r.getAs[Double](s"p$j") === s / scale,
          s"vec ${r.getAs[Long]("vec_id")} dim $j")
      }
    }
    // narrow: no exchange before the oracle ORDER BY
    val plan = Similarity.qEmbRproj(spark, sf).queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("incremental dedup: re-crawls flagged, intra-batch first-wins, fresh docs new") {
    val out = Dedup.qDocIncrDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("status"), r.getAs[Long]("content_hash"))).toMap
    val docs = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // re-submitted copies carry collision-proof offsets (1<<40 / 1<<41 —
    // far above any real doc_id at every SF; the old +200000/+300000
    // offsets collided with genuine ids at sf0.1)
    val reCrawl = 1L << 40
    val inBatch = 1L << 41
    // every re-submitted corpus doc (id + 1<<40) must be dup_of_corpus
    docs.filter(id => id % 10 != 3 && id % 20 == 0).foreach { id =>
      assert(out(id + reCrawl)._1 === "dup_of_corpus", s"recrawl of $id")
    }
    // every (id + 1<<41) copy duplicates a batch doc (id % 30 == 3 implies
    // id % 10 == 3): the SMALLER doc_id keeps 'new', the copy is flagged
    docs.filter(_ % 30 == 3).foreach { id =>
      assert(out(id)._1 === "new", s"original $id")
      assert(out(id + inBatch)._1 === "dup_in_batch", s"copy of $id")
      assert(out(id)._2 === out(id + inBatch)._2) // same content hash
    }
    // fresh batch docs not duplicated anywhere stay 'new'
    docs.filter(id => id % 10 == 3 && id % 30 != 3).foreach { id =>
      assert(out(id)._1 === "new", s"fresh $id")
    }
  }

  test("ann recall audit: counts agree with a local intersection of its two arms") {
    val row = Similarity.qEmbAnnRecall(spark, sf).collect().head
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val exact = pairs(Similarity.qEmbCosineTopk(spark, sf))
    val ann = pairs(Similarity.qEmbAnnIvf(spark, sf))
    assert(row.getAs[Long]("n_queries") === exact.map(_._1).size.toLong)
    assert(row.getAs[Long]("n_exact") === exact.size.toLong)
    assert(row.getAs[Long]("n_ann") === ann.size.toLong)
    assert(row.getAs[Long]("n_overlap") === (exact intersect ann).size.toLong)
    val recall = row.getAs[Double]("recall_at_k")
    assert(recall === (exact intersect ann).size.toDouble / exact.size.toDouble)
    assert(recall >= 0.0 && recall <= 1.0)
    spark.catalog.clearCache()
  }

  test("mmr: picks match a local greedy replay; diversity term actually defers") {
    val out = Similarity.qEmbMmr(spark, sf).collect()
    assert(out.length === Similarity.mmrK)
    // local replay with the same sequential-dot arithmetic
    val embs = graft.model.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val qe = embs(0L); val qn = math.sqrt(dotd(qe, qe))
    val cands = embs.toSeq.filter(_._1 >= Similarity.nQueryVecs)
      .map { case (id, e) =>
        val n = math.sqrt(dotd(e, e))
        (id, e, n, dotd(qe, e) / (qn * n))
      }
    val pool = cands.sortBy { case (id, _, _, sq) => (-sq, id) }
      .take(Similarity.mmrPoolK)
    var sel = Vector.empty[(Long, Array[Double], Double)]
    val lam = Similarity.mmrLambda
    out.zipWithIndex.foreach { case (r, i) =>
      val scored = pool.filterNot(p => sel.exists(_._1 == p._1)).map {
        case (id, e, n, sq) =>
          val ms = if (sel.isEmpty) 0.0
            else sel.map(s => dotd(e, s._2) / (n * s._3)).max
          (id, sq, ms, lam * sq - (1.0 - lam) * ms)
      }
      val best = scored.minBy { case (id, _, _, m) => (-m, id) }
      assert(r.getAs[Int]("pick_rank") === i + 1)
      assert(r.getAs[Long]("vec_id") === best._1, s"round ${i + 1}")
      assert(r.getAs[Double]("simq") === best._2)
      assert(r.getAs[Double]("msim") === best._3)
      assert(r.getAs[Double]("mmr") === best._4)
      val p = pool.find(_._1 == best._1).get
      sel = sel :+ ((p._1, p._2, p._3))
    }
    // the diversity term must matter: some later pick has HIGHER relevance
    // than an earlier one (pure top-k would never produce that inversion)
    val sims = out.map(_.getAs[Double]("simq"))
    assert(sims.zip(sims.tail).exists { case (a, b) => b > a },
      "expected at least one relevance inversion from the diversity term")
    spark.catalog.clearCache()
  }

  test("nprobe sweep: recall monotone in nprobe; point 1 equals the single audit") {
    val rows = Similarity.qEmbAnnNprobeSweep(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("nprobe")).toSeq === Similarity.sweepNprobes)
    val recalls = rows.map(_.getAs[Double]("recall_at_k"))
    // candidate sets are supersets as nprobe grows -> recall cannot drop
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a }, recalls.toSeq)
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    // the nprobe=1 sweep point must agree exactly with qEmbAnnRecall
    val single = Similarity.qEmbAnnRecall(spark, sf).collect().head
    val p1 = rows.head
    assert(p1.getAs[Long]("n_exact") === single.getAs[Long]("n_exact"))
    assert(p1.getAs[Long]("n_ann") === single.getAs[Long]("n_ann"))
    assert(p1.getAs[Long]("n_overlap") === single.getAs[Long]("n_overlap"))
    assert(p1.getAs[Double]("recall_at_k") === single.getAs[Double]("recall_at_k"))
    spark.catalog.clearCache()
  }

  test("winnow: pairs match a full local MOSS replay; planted near-dups hit") {
    val out = Dedup.qDocWinnow(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("n_shared")).toMap
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    // near-dup fixture: every 25th doc re-appears with a suffix token
    val corpus = docs ++ docs.filter(_._1 % 25 == 0)
      .map { case (id, t) => (id + 100000) -> (t + " near duplicate suffix") }
    def h31(sv: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP
    }
    val w = Dedup.winnowW
    val fps = corpus.map { case (id, text) =>
      val toks = text.split(" ")
      val n = math.max(toks.length - 2, 1)
      val gs = (1 to n).map(i =>
        h31(toks.slice(i - 1, math.min(i + 2, toks.length)).mkString(" ")))
      val sel = (1 to math.max(gs.length - (w - 1), 1))
        .map(j => gs.slice(j - 1, math.min(j - 1 + w, gs.length)).min).distinct
      id -> sel
    }
    val df = fps.flatMap { case (id, sel) => sel.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.length).toMap
    val ok = fps.map { case (id, sel) =>
      id -> sel.filter(f => df(f) >= 2 && df(f) <= Dedup.winnowMaxDf).toSet
    }
    val expect = (for {
      (a, fa) <- ok; (b, fb) <- ok if a < b
      shared = (fa intersect fb).size if shared >= Dedup.winnowMinShared
    } yield (a, b) -> shared.toLong).toMap
    assert(out === expect)
    // MOSS guarantee on the fixture: a J≈0.95 near-dup shares nearly every
    // fingerprint with its source — every planted pair must be reported
    docs.filter(_._1 % 25 == 0).foreach { case (id, _) =>
      assert(out.contains((id, id + 100000)), s"planted pair $id missing")
    }
  }

  test("oracle SQL constants are inlined, not init-order-dependent zeros") {
    // regression for the Dedup<->CorpusOps object-initialization cycle:
    // cross-object constants referenced inside top-level SQL vals read 0
    // when the referenced object was mid-initialization, silently
    // corrupting two oracles (r7). The constants are now compile-time
    // `final val`s; these literal pins fail if anyone reintroduces an
    // order-dependent reference.
    assert(CorpusOps.qDocCdcSavingsSql.contains("acc * 31 + x"))
    assert(!CorpusOps.qDocCdcSavingsSql.contains("acc * 0"))
    assert(CorpusOps.qDocPassageDedupSql.contains("acc * 31 + x"))
    assert(!CorpusOps.qDocPassageDedupSql.contains("acc * 0"))
    assert(Dedup.qDocSplitLeakfreeSql.contains("% 100 < 80"))
    assert(Dedup.qDocSplitLeakfreeSql.contains("% 100 < 90"))
    assert(Dedup.qDocWinnowSql.contains("% 2147483647"))
    // r8: qEmbScoreCalibration's SQL initializes BEFORE the eval
    // constants' definition site in Similarity — a non-final
    // evalQueryMod interpolated `% 0` (caught live); pin the inline
    assert(Similarity.qEmbScoreCalibrationSql.contains("% 10 = 0"))
    assert(!Similarity.qEmbScoreCalibrationSql.contains("% 0"))
    assert(Similarity.qEmbNdcgSql.contains("% 10 = 0"))
  }

  test("leak-free split: no cluster straddles folds; summary consistent; naive split leaks") {
    val out = Dedup.qDocSplitLeakfree(spark, sf).collect()
      .map(r => r.getAs[String]("fold") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_clustered_docs"),
          r.getAs[Long]("n_clusters"))).toMap
    // totals: every corpus doc (incl. the near-dup copies) in exactly one fold
    val base = graft.model.Tables.documents(spark, sf).count()
    val copies = graft.model.Tables.documents(spark, sf)
      .filter(col("doc_id") % 25 === 0).count()
    assert(out.values.map(_._1).sum === base + copies)
    // the invariant: recompute each cluster's fold set via the same
    // pipeline pieces — a cluster id maps to exactly ONE fold because the
    // fold is a function of the cluster id; verify against the clustered
    // doc/cluster counts the summary reports
    val clusters = Dedup.qDocDupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    def foldOf(key: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key|leakfree".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(md.take(15), 16) % 100
      if (h < CorpusOps.trainPct) "train" else if (h < CorpusOps.valPct) "val" else "test"
    }
    val byFold = clusters.groupBy { case (_, cid) => foldOf(cid) }
    out.foreach { case (fold, (_, nClusteredDocs, nClusters)) =>
      val g = byFold.getOrElse(fold, Array.empty[(Long, Long)])
      assert(nClusteredDocs === g.length.toLong, s"fold $fold clustered docs")
      assert(nClusters === g.map(_._2).distinct.length.toLong, s"fold $fold clusters")
    }
    // and the naive per-doc split WOULD leak on this corpus: at least one
    // cluster has members whose per-doc hashes land in different folds
    val docsById = {
      val d = graft.model.Tables.documents(spark, sf)
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      d ++ d.filter(_._1 % 25 == 0).map { case (id, t) =>
        (id + 100000) -> (t + " near duplicate suffix") }
    }
    def naiveFold(text: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((text + "|split").getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(md.take(15), 16) % 100
      if (h < CorpusOps.trainPct) "train" else if (h < CorpusOps.valPct) "val" else "test"
    }
    val leaky = clusters.groupBy(_._2).values.exists { members =>
      members.map { case (id, _) => naiveFold(docsById(id)) }.distinct.length > 1
    }
    assert(leaky, "fixture should demonstrate naive-split leakage")
  }

  test("minhash recall eval: LSH pairs are a subset of exact truth; fixture dups found") {
    val r = Dedup.qDocMinhashEval(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    val nTrue = row.getAs[Long]("n_true_pairs")
    val nLsh = row.getAs[Long]("n_lsh_pairs")
    val nFound = row.getAs[Long]("n_found")
    val nMissed = row.getAs[Long]("n_missed")
    val recall = row.getAs[Double]("recall")
    // LSH verifies candidates with the SAME exact threshold on the SAME
    // hash sets, so it can only ever be a subset of the exact join
    assert(nLsh === nFound)
    assert(nMissed === nTrue - nFound)
    assert(recall === nFound.toDouble / nTrue.toDouble)
    assert(recall > 0.0 && recall <= 1.0)
    // the fixture plants one J≈0.95 near-dup per 25 docs; truth must hold
    // at least the planted pairs INSIDE the truth-arm sample (the sample
    // is keyed on the base id, so a planted pair is in or out atomically)
    val planted = graft.model.Tables.documents(spark, sf)
      .filter(col("doc_id") % 25 === 0).collect().map(_.getAs[Long]("doc_id"))
      .count(id => ((id % 100000L) * Exact.lcgMul + Exact.lcgAdd)
        % Dedup.evalSampleMod < Dedup.evalSampleKeep)
    assert(planted > 0, "sample must retain at least one planted pair")
    assert(nTrue >= planted)
    // at J≈0.95, 4x4 banding collides with prob 1-(1-0.95^4)^4 ≈ 0.9988 —
    // near-total recall is the designed property, not luck
    assert(recall > 0.8, s"recall $recall")
  }

  test("prefix-filter sim join: finds EXACTLY the pairs an exhaustive local scan finds") {
    import org.apache.spark.sql.functions.{col, concat, explode, expr, lit, split}
    val out = Dedup.qDocSimJoinPrefix(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("common"), r.getAs[Long]("na"), r.getAs[Long]("nb"))).toMap
    // same corpus + shingle-hash sets via the same expression, then an
    // EXHAUSTIVE local all-pairs Jaccard — prefix filtering claims
    // exactness, so the distributed result must equal this, not ⊆ it
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val corpus = docs
      .unionAll(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionAll(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" near duplicate suffix")).as("text")))
    val sets = corpus.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr(Dedup.hashSetExpr).as("hs")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      c = (sets(a) & sets(b)).size.toLong
      if 8 * c >= 3 * (sets(a).size + sets(b).size)
    } yield (a, b) -> (c, sets(a).size.toLong, sets(b).size.toLong)).toMap
    assert(out === expected)
    // the injected exact copies are all found at jaccard 1
    val exactIds = docs.select("doc_id").collect().map(_.getLong(0)).filter(_ % 7 == 0)
    exactIds.foreach { id =>
      val key = (id, id + 100000L)
      // exact copy ⇒ identical sets, unless another doc shares the text
      // (then the pair may appear under different partners) — require at
      // least membership when the sets really are identical
      if (sets(id) == sets(id + 100000L)) assert(out.contains(key), key)
    }
    // candidate generation is equi-join only
    val p = Dedup.qDocSimJoinPrefix(spark, sf).queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("containment join: equals an exhaustive local scan; catches Jaccard-blind excerpts") {
    import org.apache.spark.sql.functions.{col, expr, split}
    val out = Dedup.qDocContainment(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("common"), r.getAs[Double]("containment"),
          r.getAs[Double]("jaccard"))).toMap
    // same corpus (base docs + 2n/5-token excerpts of every 11th doc),
    // same shingle-hash sets, then an EXHAUSTIVE local all-pairs scan —
    // one-sided prefix filtering claims exactness, so equality, not ⊆
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.filter(col("doc_id") % 11 === 0)
        .withColumn("toks", split(col("text"), " "))
        .select((col("doc_id") + 400000).as("doc_id"),
          expr("concat_ws(' ', slice(toks, 1, greatest((2 * size(toks)) div 5, 3)))")
            .as("text")))
    val sets = corpus.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr(Dedup.hashSetExpr).as("hs")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      c = (sets(a) & sets(b)).size.toLong
      if 5 * c >= 4 * math.min(sets(a).size, sets(b).size)
    } yield (a, b)).toSet
    assert(out.keySet === expected)
    // every excerpt is contained 1.0 in its source (its shingles are a
    // subset of the source's), and — the operator's reason to exist —
    // genuinely shortened excerpts sit BELOW the symmetric thresholds
    val base = docs.select("doc_id").collect().map(_.getLong(0)).filter(_ % 11 == 0)
    var jaccardBlind = 0
    base.foreach { id =>
      val key = (id, id + 400000L)
      assert(sets(id + 400000L).subsetOf(sets(id)), s"excerpt $id not a subset")
      assert(out.contains(key), key)
      assert(out(key)._2 === 1.0, s"containment of $key")
      if (out(key)._3 < Dedup.jaccardThreshold) jaccardBlind += 1
    }
    assert(jaccardBlind > 0, "no pair demonstrates the symmetric-Jaccard blind spot")
    // candidate generation is equi-join only
    val p = Dedup.qDocContainment(spark, sf).queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cluster reps: the elected representative is the best-quality member") {
    import org.apache.spark.sql.functions.col
    val reps = Dedup.qDocClusterReps(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("rep_doc_id"),
          r.getAs[Double]("rep_quality"))).toMap
    assert(reps.nonEmpty)
    val clusters = Dedup.qDocDupClusters(spark, sf).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("doc_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(reps.keySet === clusters.keySet)
    // quality of every cluster member, via the same shared formula over
    // the same injected corpus
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val corpus = docs
      .unionAll(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          org.apache.spark.sql.functions.concat(col("text"),
            org.apache.spark.sql.functions.lit(" near duplicate suffix")).as("text")))
    val q = corpus.select(col("doc_id"), TextOps.qualityScoreCol.as("q")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("q")).toMap
    reps.foreach { case (cid, (n, repId, repQ)) =>
      val members = clusters(cid)
      assert(n === members.size.toLong)
      assert(members.contains(repId), s"rep $repId outside cluster $cid")
      val best = members.map(m => (-q(m), m)).min // max quality, min id tiebreak
      assert(repId === best._2, s"cluster $cid")
      assert(repQ === q(repId))
    }
  }

  test("label separation: coverage, score bounds, and geometric sanity") {
    val out = Similarity.qEmbLabelSeparation(spark, sf).collect()
    assert(out.nonEmpty)
    val total = graft.model.Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_members")).sum === total)
    out.foreach { r =>
      assert(r.getAs[Double]("intra_msd") >= 0.0)
      assert(r.getAs[Double]("inter_min_d2") >= 0.0)
      val s = r.getAs[Double]("sep_score")
      assert(s >= -1.0 && s <= 1.0, s"label ${r.get(0)}")
    }
  }

  test("retrieval eval: matches a local brute-force replay of recall/MRR") {
    import org.apache.spark.sql.functions.col
    val out = Similarity.qEmbRetrievalEval(spark, sf).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_queries"), r.getAs[Double]("recall_at_10"),
          r.getAs[Double]("mrr_at_10"))).toMap
    val emb = graft.model.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = emb.filter(_._1 % Similarity.evalQueryMod == 0)
    val corpus = emb.filter(_._1 % Similarity.evalQueryMod != 0)
    val byLabel = queries.groupBy(_._2).map { case (lbl, qs) =>
      var hits = 0L; var mrrNum = 0L
      qs.foreach { case (qid, qLabel, qe) =>
        val top = corpus.filter(_._1 != qid)
          .map { case (cid, cLabel, ce) => (cid, cLabel, cos(qe, ce)) }
          .sortBy { case (cid, _, s) => (-s, cid) }.take(Similarity.evalK)
        val firstRel = top.zipWithIndex.collectFirst {
          case ((_, cl, _), i) if cl == qLabel => i + 1 }
        if (firstRel.isDefined) { hits += 1; mrrNum += Similarity.mrrLcm / firstRel.get }
      }
      lbl -> (qs.length.toLong, hits.toDouble / qs.length,
        mrrNum.toDouble / (Similarity.mrrLcm * qs.length))
    }
    assert(out.keySet === byLabel.keySet)
    byLabel.foreach { case (lbl, (n, recall, mrr)) =>
      assert(out(lbl)._1 === n)
      assert(out(lbl)._2 === recall, s"recall label $lbl")
      assert(out(lbl)._3 === mrr, s"mrr label $lbl")
      // per-query reciprocal rank ≤ hit indicator, so MRR ≤ recall
      assert(out(lbl)._3 <= out(lbl)._2 + 1e-12)
    }
  }

  test("dim stats: bit-exact vs local micro-quantized moments; full coverage") {
    val out = Similarity.qEmbDimStats(spark, sf).collect()
      .map(r => r.getAs[Int]("i") ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean_micro"),
          r.getAs[Double]("std_micro"), r.getAs[Double]("min_x"),
          r.getAs[Double]("max_x"))).toMap
    assert(out.keySet === (1 to 64).toSet)
    val vecs = graft.model.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0))
    assert(out.values.forall(_._1 === vecs.length.toLong))
    for (i <- 1 to 64) {
      val xs = vecs.map(v => v(i - 1).toDouble)
      val ys = xs.map(x => math.floor(x * 1000000d).toLong)
      val n = xs.length.toLong; val nD = n.toDouble
      val sy = ys.sum; val syy = ys.map(y => y * y).sum
      val (on, omean, ostd, omin, omax) = out(i)
      assert(on === n)
      assert(omean === sy.toDouble / nD, s"dim $i") // bit-exact: same moments
      assert(ostd === math.sqrt((syy.toDouble - sy.toDouble * sy.toDouble / nD) / nD), s"dim $i")
      assert(omin === xs.min && omax === xs.max, s"dim $i")
      assert(ostd >= 0.0 && omin <= omax)
    }
  }

  test("zipf fit: slope matches a local exact quantized least squares") {
    val row = TextOps.qDocZipf(spark, sf).head()
    val n = row.getAs[Long]("n_ranks")
    assert(n > 0 && n <= TextOps.zipfRanks)
    // local replay: same top-n tf head, same micro-quantized logs
    val tf = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().collect()
      .map(r => (r.getAs[String]("t"), r.getAs[Long]("count")))
      .sortBy { case (t, c) => (-c, t) }.take(TextOps.zipfRanks)
    def ql(v: Long): Long = math.floor(math.log(v.toDouble) * Exact.logScale).toLong
    val pts = tf.zipWithIndex.map { case ((_, c), i) => (ql(i + 1L), ql(c)) }
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val m = pts.length.toLong
    val slope = (m * sxy - sx * sy).toDouble / (m * sxx - sx * sx).toDouble
    assert(n === m)
    assert(row.getAs[Double]("slope") === slope, "bit-exact quantized LS")
    assert(slope < 0.0, "frequency must fall with rank")
  }

  test("heaps curve: monotone, endpoint-consistent, beta finite") {
    val rows = TextOps.qDocHeaps(spark, sf).collect()
    assert(rows.length === TextOps.heapsBuckets)
    val toks = rows.map(_.getAs[Long]("cum_tokens"))
    val voc = rows.map(_.getAs[Long]("cum_vocab"))
    assert(toks.zip(toks.tail).forall { case (a, b) => a < b }, "token curve strictly grows")
    assert(voc.zip(voc.tail).forall { case (a, b) => a <= b }, "vocab curve nondecreasing")
    // endpoints equal the direct corpus totals
    val all = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
    assert(toks.last === all.count())
    assert(voc.last === all.distinct().count())
    val beta = rows.head.getAs[Double]("heaps_beta")
    assert(rows.forall(_.getAs[Double]("heaps_beta") === beta), "one fit, broadcast to all rows")
    assert(!beta.isNaN && beta >= 0.0 && beta <= 1.0, s"heaps beta $beta")
  }

  test("bpe pairs: top merge candidates equal a local frequency-weighted count") {
    val out = TextOps.qDocBpePairs(spark, sf).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("weight")))
    assert(out.length === TextOps.bpeTopK)
    val words = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ")).groupBy(identity)
      .map { case (w, g) => (w, g.length.toLong) }
    val local = words.toSeq.filter(_._1.length >= 2)
      .flatMap { case (w, c) => w.sliding(2).map(p => (p, c)) }
      .groupBy(_._1).map { case (p, g) => (p, g.map(_._2).sum) }
      .toSeq.sortBy { case (p, c) => (-c, p) }.take(TextOps.bpeTopK)
    assert(out.toSeq === local, "distributed vocab-weighted pair count == local replay")
  }

  test("bpe merges: 3-round greedy merge replay (loop-form ground truth vs replace-form)") {
    val out = TextOps.qDocBpeMerges(spark, sf).collect()
      .map(r => (r.getAs[Int]("merge_round"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("weight")))
    assert(out.length === TextOps.bpeMergeRounds)
    // ground truth: canonical greedy left-to-right merge over symbol
    // VECTORS (merge-then-skip-both loop), independent of the engine's
    // two-pass string-replace formulation
    var segs: Seq[(Vector[String], Long)] = Tables.documents(spark, sf)
      .select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).groupBy(identity).toSeq
      .map { case (w, g) => (w.toVector.map(_.toString), g.length.toLong) }
    val expected = (1 to TextOps.bpeMergeRounds).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- segs; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + c
      }
      val ((a, b), w) = counts.toSeq
        .minBy { case ((x, y), c) => (-c, s"$x $y") }
      segs = segs.map { case (syms, c) =>
        val m = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            m += (a + b); i += 2
          } else { m += syms(i); i += 1 }
        }
        (m.toVector, c)
      }
      (r, s"$a $b", a + b, w)
    }
    assert(out.toSeq === expected,
      "distributed replace-form merges == local greedy loop-form replay")
    // the adopted tokens must be distinct and strictly growing in coverage
    assert(out.map(_._3).distinct.length === TextOps.bpeMergeRounds)
  }

  test("curriculum: full local replay; token budgets conserved and phases cut easy-to-hard") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tfDoc = docs.map { case (id, t) =>
      id -> t.split(" ", -1).groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    }.toMap
    val uni = tfDoc.values.toSeq.flatMap(_.toSeq)
      .groupBy(_._1).map { case (w, g) => w -> g.map(_._2).sum }
    val bigT = uni.values.sum; val v = uni.size.toLong
    def qlog(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    val keyed = docs.map { case (id, t) =>
      val tf = tfDoc(id)
      val nTok = tf.values.sum
      val sumQlp = tf.map { case (w, c) => c * (qlog(uni(w) + 1) - qlog(bigT + v)) }.sum
      val xq = (-sumQlp) / nTok // both operands positive: / == div == //
      val awl = math.min((t.length.toLong * 10) / nTok, 1023L)
      val h = ((id % 100000) * 1103515245L + 12345L) % 256L
      (id, nTok, xq, ((xq / 10000) * 1024 + awl) * 256 + h)
    }
    val tokB = keyed.groupBy(_._4).map { case (k, g) => k -> g.map(_._2).sum }
    val tot = tokB.values.sum
    val cum = tokB.toSeq.sortBy(_._1)
      .scanLeft((Long.MinValue, 0L)) { case ((_, c), (k, tb)) => (k, c + tb) }.drop(1)
    val phaseOf = cum.map { case (k, c) =>
      k -> (if (c * 5 <= tot) 1 else if (c * 2 <= tot) 2 else 3)
    }.toMap
    val expected = keyed.map { case (id, nTok, xq, k) => (id, nTok, xq, k, phaseOf(k)) }
      .sortBy(_._1).toSeq
    val out = TextOps.qDocCurriculum(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("xq"), r.getAs[Long]("curr_key"), r.getAs[Int]("phase"))).toSeq
    assert(out === expected, "distributed curriculum == local replay")
    // conservation: every doc exactly once, token budget partitioned
    assert(out.map(_._1).distinct.length === docs.length)
    assert(out.map(_._2).sum === tot)
    // monotone cut: max key of any phase <= min key of the next
    val byPhase = out.groupBy(_._5)
    for (p <- byPhase.keys.toSeq.sorted.init) {
      if (byPhase.contains(p + 1))
        assert(byPhase(p).map(_._4).max <= byPhase(p + 1).map(_._4).min,
          s"phase $p keys must precede phase ${p + 1}")
    }
  }

  test("bpe fertility: per-source totals replay the greedy-merged vocabulary") {
    // re-train the 3 rounds locally (loop-form greedy, as in the merges
    // replay), apply the final segmentation to per-source word counts
    var segs: Map[String, Vector[String]] = Tables.documents(spark, sf)
      .select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).distinct
      .map(w => w -> w.toVector.map(_.toString)).toMap
    val wcount = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).groupBy(identity)
      .map { case (w, g) => w -> g.length.toLong }
    for (_ <- 1 to TextOps.bpeMergeRounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- segs; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + wcount(w)
      }
      val ((a, b), _) = counts.toSeq.minBy { case ((x, y), c) => (-c, s"$x $y") }
      segs = segs.map { case (w, syms) =>
        val m = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            m += (a + b); i += 2
          } else { m += syms(i); i += 1 }
        }
        w -> m.toVector
      }
    }
    val nsym = segs.map { case (w, syms) => w -> math.max(1, syms.length).toLong }
    val bySrc = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(w => (r.getString(0), w)))
      .groupBy(identity).map { case ((s, w), g) => (s, w, g.length.toLong) }
    val expected = bySrc.groupBy(_._1).map { case (src, g) =>
      val nw = g.map(_._3).sum
      val nc = g.map(t => t._3 * t._2.length).sum
      val nt = g.map(t => t._3 * nsym(t._2)).sum
      (src, nw, nc, nt, nt.toDouble / nw, nc.toDouble / nt)
    }.toSeq.sortBy(_._1)
    val out = TextOps.qDocBpeFertility(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("fertility"), r.getAs[Double]("chars_per_token"))).toSeq
    assert(out === expected, "per-source fertility == local merged-vocab replay")
    // merges only ever shrink token counts: fertility within (0, max word len]
    out.foreach { r => assert(r._5 > 0.0 && r._4 <= r._3 + r._2,
      s"token total out of band for ${r._1}") }
  }

  test("pad waste: bucket replay; padding never cheaper than packing") {
    val lens = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).split(" ", -1).length.toLong)
    val topCap = 1L << (TextOps.padMaxPow - 1)
    def capOf(n: Long): Long = { // over-ladder docs clamp into the top rung
      var c = 1L; while (c < n && c < topCap) c <<= 1; c
    }
    val byCap = lens.groupBy(capOf)
    val b = TextOps.packChunkTokens
    val packedCost = ((lens.sum + b - 1) / b) * b
    val paddedTotal = byCap.map { case (c, g) => c * g.length }.sum
    val expected = byCap.toSeq.sortBy(_._1).map { case (c, g) =>
      val nd = g.length.toLong; val st = g.sum
      (c, nd, st, nd * c, (nd * c - st).toDouble / (nd * c).toDouble,
        packedCost, paddedTotal.toDouble / packedCost.toDouble)
    }
    val out = TextOps.qDocPadWaste(spark, sf).collect()
      .map(r => (r.getAs[Long]("cap"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("sum_tokens"), r.getAs[Long]("padded_cost"),
        r.getAs[Double]("waste_frac"), r.getAs[Long]("packed_cost"),
        r.getAs[Double]("pad_over_pack"))).toSeq
    assert(out === expected, "bucketed padding audit == local replay")
    // each doc fills over half its cap, so bucket waste is under 50%
    // (except the catch-all top rung, where clamped docs may overflow);
    // every doc is bucketed exactly once
    out.foreach { r =>
      assert((r._5 >= 0.0 && r._5 < 0.5) || r._1 === topCap, s"waste band: $r")
    }
    assert(out.map(_._2).sum === lens.length.toLong)
  }

  test("pack bins: longest-first round-robin replay; token mass conserved over bins") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length.toLong)
    val b = TextOps.packChunkTokens
    val total = docs.map(_._2).sum
    val nBins = (total + b - 1) / b
    val ranked = docs.sortBy { case (id, n) => (-n, id) }.zipWithIndex
    val byBin = ranked.groupBy { case (_, i) => i.toLong % nBins }
    val expected = byBin.toSeq.sortBy(_._1).map { case (bin, g) =>
      val ft = g.map(_._1._2).sum
      (bin, g.length.toLong, ft, ft.toDouble / b.toDouble, ft > b)
    }
    val out = TextOps.qDocPackBins(spark, sf).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("fill_tokens"), r.getAs[Double]("fill_frac"),
        r.getAs[Boolean]("overflow"))).toSeq
    assert(out === expected, "two-level ranked deal-out == local LPT replay")
    assert(out.map(_._3).sum === total)
    if (docs.length >= nBins) assert(out.length.toLong === nBins,
      "every bin dealt at least one doc")
  }

  test("pack chunks: two-level prefix sum == naive local cumsum; layout is gapless") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length.toLong)
      .sortBy(_._1)
    val b = TextOps.packChunkTokens
    var off = 0L
    val expected = docs.map { case (id, n) =>
      val start = off; off += n
      val first = start / b; val last = (start + n - 1) / b
      (id, n, start, first, last, last - first + 1)
    }.toSeq
    val out = TextOps.qDocPackChunks(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("tok_start"), r.getAs[Long]("chunk_first"),
        r.getAs[Long]("chunk_last"), r.getAs[Long]("n_chunks"))).toSeq
    assert(out === expected, "two-level distributed prefix sum == naive sequential layout")
    // gapless: consecutive docs abut exactly; total layout length conserved
    out.sliding(2).foreach {
      case Seq(a, c) => assert(a._3 + a._2 === c._3, s"gap between ${a._1} and ${c._1}")
      case _ =>
    }
    assert(out.last._3 + out.last._2 === docs.map(_._2).sum)
    // a doc never spans more chunks than its token count requires
    out.foreach { d => assert(d._6 >= 1 && d._6 <= d._2 / b + 2) }
  }

  test("dup spans: planted near-dup sources are fully covered, copies all but the suffix") {
    val out = Dedup.qDocDupSpans(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens"),
          r.getAs[Long]("total_tokens"), r.getAs[Double]("dup_frac"))).toMap
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 25 === 0 && size(split(col("text"), " ")) >= Dedup.dupSpanK)
      .select("doc_id").collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    planted.foreach { id =>
      // source: every k-gram also occurs in its planted copy → one island
      // covering the whole doc
      val (ns, dup, tot, frac) = out(id)
      assert(ns === 1L && dup === tot && frac === 1.0, s"source doc $id")
      // copy: at least the whole source prefix is duplicated (organic
      // cross-doc gram repeats may add boundary coverage beyond it)
      val (_, dupC, totC, _) = out(id + 100000)
      assert(totC === tot + 3 && dupC >= tot, s"copy of $id")
    }
    out.values.foreach { case (ns, dup, tot, frac) =>
      assert(ns >= 1L && dup >= Dedup.dupSpanK.toLong && dup <= tot &&
        frac > 0.0 && frac <= 1.0)
    }
  }

  test("matryoshka recall: bounded, exact-arm sized, overlap replays exactly") {
    val rows = Similarity.qEmbMatryoshka(spark, sf).collect()
      .map(r => (r.getAs[Int]("dim"), r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_overlap"), r.getAs[Double]("recall_at_k")))
    assert(rows.map(_._1).toSeq === Similarity.matryoshkaDims)
    val nEx = Similarity.nQueryVecs.toLong * Similarity.topK
    rows.foreach { case (d, ne, ov, rec) =>
      assert(ne === nEx, s"exact arm at dim $d")
      assert(ov >= 0 && ov <= ne && rec >= 0.0 && rec <= 1.0)
      assert(rec === ov.toDouble / ne.toDouble)
    }
    // The fixture's embeddings are isotropic (no MRL training), so prefix
    // recall is LOW — which is precisely the finding this audit exists to
    // surface before anyone deploys a truncated first stage. Pin the weak
    // trend (widest ≥ narrowest on this fixture) and replay the widest
    // arm locally for exactness instead of asserting a recovery floor.
    val recs = rows.map(_._4)
    assert(recs.head <= recs.last, s"width trend: ${recs.mkString(",")}")
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray)
      .toMap
    def topk(d: Int): Set[(Long, Long)] = {
      val qs = vecs.filter(_._1 < Similarity.nQueryVecs)
      val cs = vecs.filter(_._1 >= Similarity.nQueryVecs)
      qs.keys.flatMap { q =>
        val qe = vecs(q).take(d)
        cs.toSeq.map { case (id, v) =>
          val ce = v.take(d)
          val dot = qe.indices.foldLeft(0.0)((a, i) => a + qe(i) * ce(i))
          val cos = dot / (math.sqrt(qe.map(x => x * x).sum) * math.sqrt(ce.map(x => x * x).sum))
          (id, cos)
        }.sortBy { case (id, c) => (-c, id) }.take(Similarity.topK).map(p => (q, p._1))
      }.toSet
    }
    val full = topk(64)
    rows.foreach { case (d, _, ov, _) =>
      assert(ov === (topk(d) & full).size.toLong, s"overlap replay at dim $d")
    }
  }

  test("t-closeness: population-consistent, verdict matches the exact rational") {
    val rows = Quality2Bridge.tClose(spark, sf)
    val nTotal = Tables.customer(spark, sf).count()
    assert(rows.map(_._2).sum === nTotal, "classes partition the population")
    rows.foreach { case (nation, n, tvd, tOk) =>
      assert(n > 0 && tvd >= 0.0 && tvd <= 1.0, s"nation $nation")
      // the boolean is decided in exact integers; away from the knife edge
      // it must agree with the double
      if (tvd < 0.1999) assert(tOk, s"nation $nation tvd=$tvd flagged")
      if (tvd > 0.2001) assert(!tOk, s"nation $nation tvd=$tvd passed")
    }
  }

  test("skew diagnosis: stats match a local exact frequency profile") {
    val out = Layout2Bridge.skew(spark, sf)
    assert(out.map(_._1).toSeq === Seq("lineitem_partkey", "lineitem_suppkey", "orders_custkey"))
    val freqs = Tables.orders(spark, sf).groupBy("o_custkey").count()
      .collect().map(_.getAs[Long]("count")).sorted
    val (nRows, nKeys, maxF) = (freqs.sum, freqs.length.toLong, freqs.max)
    def pct(p: Int): Long = freqs((math.ceil(nKeys * p / 100.0) - 1).toInt)
    val r = out.find(_._1 == "orders_custkey").get
    assert(r._2 === nRows && r._3 === nKeys && r._4 === maxF)
    assert(r._5 === pct(50) && r._6 === pct(99))
    assert(r._7 === (maxF * nKeys + nRows - 1) / nRows, "salt factor = ceil(max/avg)")
  }

  test("link prediction: scores replay exactly and arrive sorted") {
    val out = Graph2Bridge.linkpred(spark, sf)
    assert(out.nonEmpty && out.length <= Graph.linkPredTopK)
    // local ground truth from the same bipartite edge set
    val edges = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = edges.groupBy(_._2).map { case (s, g) => s -> g.map(_._1).toSet }
    out.foreach { case (a, b, common, da, db, j) =>
      val (na, nb) = (nbrs(a), nbrs(b))
      assert(common === (na & nb).size.toLong && common >= Graph.linkPredMinCommon)
      assert(da === na.size.toLong && db === nb.size.toLong)
      assert(j === common.toDouble / (da + db - common).toDouble)
    }
    val keys = out.map { case (a, b, _, _, _, j) => (-j, a, b) }
    assert(keys.zip(keys.tail).forall { case (x, y) =>
      implicitly[Ordering[(Double, Long, Long)]].lteq(x, y) }, "sorted by (jaccard desc, ids)")
  }
  test("unigram perplexity: exact integer replay, token conservation") {
    import graft.ext.TextOps
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val toks = docs.flatMap { case (s, t) => t.split(" ", -1).map(s -> _) }
    val tf = toks.groupBy(_._2).map { case (w, xs) => w -> xs.length.toLong }
    val totalT = tf.values.sum
    val v = tf.size.toLong
    def qln(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    val expected = toks.groupBy(_._1).map { case (s, xs) =>
      val sumQlp = xs.map { case (_, w) => qln(tf(w) + 1) - qln(totalT + v) }.sum
      s -> (xs.length.toLong, -sumQlp.toDouble / xs.length / 1e6)
    }
    val rows = TextOps.qDocPerplexity(spark, sf).collect()
    assert(rows.map(_.getAs[String]("source")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, x) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Double]("xent_nats") === x, r.getAs[String]("source"))
      assert(r.getAs[Double]("xent_nats") > 0)
    }
  }

  test("ngram novelty: exact replay of first-introduction counts per source") {
    import graft.ext.TextOps
    val n = TextOps.noveltyN
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val gd = docs.flatMap { case (id, s, t) =>
      val toks = t.split(" ", -1)
      toks.sliding(n).filter(_.length == n).map(_.mkString(" "))
        .toSet[String].map(g => (id, s, g))
    }
    val firsts = gd.groupBy(_._3).map { case (g, xs) => g -> xs.map(_._1).min }
    val expected = gd.groupBy(_._2).map { case (s, xs) =>
      s -> (xs.size.toLong, xs.count { case (id, _, g) => firsts(g) == id }.toLong)
    }
    val rows = TextOps.qDocNgramNovelty(spark, sf).collect()
    assert(rows.map(_.getAs[String]("source")).toSet === expected.keySet)
    rows.foreach { r =>
      val (grams, novel) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_grams") === grams)
      assert(r.getAs[Long]("n_novel") === novel)
      assert(r.getAs[Double]("novelty_rate") === novel.toDouble / grams)
    }
  }

  test("FD mining: true keys hold, verdicts match direct recomputation") {
    val rows = graft.etl.Quality.qFdMine(spark, sf).collect()
      .map(r => (r.getAs[String]("tbl"), r.getAs[String]("det"), r.getAs[String]("dep")) ->
        (r.getAs[Long]("n_det"), r.getAs[Long]("n_violating"), r.getAs[Boolean]("holds")))
      .toMap
    assert(rows.size === 7)
    // declared single-column keys must hold at every scale factor; the
    // composite (l_orderkey,l_linenumber) candidate is deliberately NOT
    // pinned — the synthetic generator does not enforce the TPC-H
    // composite PK, and the profiler catching that is the op's point
    // (verified against recomputation below like every other verdict)
    for (k <- Seq(("nation", "n_nationkey", "n_name"),
                  ("customer", "c_custkey", "c_mktsegment"),
                  ("orders", "o_orderkey", "o_custkey"))) {
      assert(rows(k)._2 === 0L && rows(k)._3, s"key FD $k must hold")
    }
    // every verdict (incl. the plausible-but-false ones) matches a direct
    // distinct-count recomputation
    def recompute(table: String, det: Seq[String], dep: String): (Long, Long) = {
      val grouped = Tables.load(spark, sf, table)
        .groupBy(det.map(col): _*).agg(countDistinct(col(dep)).as("nd")).collect()
      (grouped.length.toLong, grouped.count(_.getAs[Long]("nd") > 1).toLong)
    }
    for (((tbl, det, dep), (nDet, nViol, holds)) <- rows) {
      val (eDet, eViol) = recompute(tbl, det.split(",").toSeq, dep)
      assert(nDet === eDet && nViol === eViol && holds === (eViol == 0L),
        s"$tbl.$det->$dep")
    }
  }

  test("event MI: exact micro-nat replay, entropies bound the MI") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), expr("weekday(ts) + 1").cast("int")).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val cells = ev.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val rowm = ev.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    val colm = ev.groupBy(_._2).map { case (k, xs) => k -> xs.length.toLong }
    val nTot = ev.length.toLong
    def qln(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    val miNum = cells.map { case ((t, d), o) =>
      o * (qln(o) + qln(nTot) - qln(rowm(t)) - qln(colm(d))) }.sum
    val hxNum = rowm.values.map(r => r * (qln(nTot) - qln(r))).sum
    val hyNum = colm.values.map(c => c * (qln(nTot) - qln(c))).sum
    val row = Analytics.qEventMi(spark, sf).collect()
    assert(row.length === 1)
    val r0 = row.head
    assert(r0.getAs[Long]("n_cells") === cells.size.toLong)
    assert(r0.getAs[Long]("n_total") === nTot)
    assert(r0.getAs[Double]("mi_nats") === miNum.toDouble / nTot / 1e6)
    assert(r0.getAs[Double]("h_type") === hxNum.toDouble / nTot / 1e6)
    assert(r0.getAs[Double]("h_dow") === hyNum.toDouble / nTot / 1e6)
    // MI ≤ min(H_type, H_dow) (within quantization); nmi in [~0, 1]
    assert(miNum <= math.min(hxNum, hyNum))
    assert(r0.getAs[Double]("nmi") <= 1.0 + 1e-9)
  }

  test("kNN classify: exact leave-one-out replay with deterministic tie-break") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val qs = emb.filter(_._1 % Similarity.evalQueryMod == 0)
    val cs = emb.filter(_._1 % Similarity.evalQueryMod != 0)
    val preds = qs.map { case (qid, qlab, qe) =>
      val qn = math.sqrt(dotd(qe, qe))
      val top = cs.map { case (cid, clab, ce) =>
        (dotd(qe, ce) / (qn * math.sqrt(dotd(ce, ce))), cid, clab) }
        .sortBy { case (cos, cid, _) => (-cos, cid) }.take(Similarity.knnK)
      val votes = top.groupBy(_._3).map { case (l, xs) => (l, xs.length) }
      val pred = votes.toSeq.sortBy { case (l, v) => (-v, l) }.head
      (qlab, pred._1, pred._2.toLong)
    }
    val expected = preds.groupBy(_._1).map { case (l, xs) =>
      l -> (xs.length.toLong, xs.count(p => p._2 == p._1).toLong,
        xs.map(_._3).sum)
    }
    val rows = Similarity.qEmbKnnClassify(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("label")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, correct, winVotes) = expected(r.getAs[Int]("label"))
      assert(r.getAs[Long]("n_queries") === n)
      assert(r.getAs[Long]("n_correct") === correct)
      assert(r.getAs[Double]("accuracy") === correct.toDouble / n)
      assert(r.getAs[Double]("mean_win_votes") === winVotes.toDouble / n)
    }
  }

  test("LOO influence: exact replay; delta non-negative and consistent with entropies") {
    import graft.ext.TextOps
    val toks = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(r.getString(0) -> _))
    val bySrc = toks.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val tf = toks.groupBy(_._2).map { case (w, xs) => w -> xs.length.toLong }
    val t = tf.values.sum; val v = tf.size.toLong
    def qln(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    val expected = toks.groupBy(_._1).map { case (s, xs) =>
      val ts = xs.length.toLong
      val us = tf.count { case (w, c) => bySrc.getOrElse((s, w), 0L) == c }.toLong
      val sFull = xs.map { case (_, w) => qln(tf(w) + 1) - qln(t + v) }.sum
      val sLoo = xs.map { case (_, w) =>
        qln(tf(w) - bySrc((s, w)) + 1) - qln(t - ts + v - us) }.sum
      s -> (ts, -sFull.toDouble / ts / 1e6, -sLoo.toDouble / ts / 1e6,
        (sFull - sLoo).toDouble / ts / 1e6)
    }
    val rows = TextOps.qDocLooInfluence(spark, sf).collect()
    assert(rows.map(_.getAs[String]("source")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, xf, xl, inf) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Double]("xent_full") === xf)
      assert(r.getAs[Double]("xent_loo") === xl)
      assert(r.getAs[Double]("influence_nats") === inf)
      // removing a source can only make its own tokens rarer under the LM
      // (up to the 2-ulp quantization slack of the four floor'd logs)
      assert(inf >= -4e-6, s"influence must be ~non-negative: $inf")
    }
  }

  test("source vocab overlap: exact Jaccard replay, symmetric-complete pair set") {
    import graft.ext.TextOps
    val pairs: Set[(String, String)] = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(w => (r.getString(0), w)))
      .toSet
    val vocab: Map[String, Set[String]] =
      pairs.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val rows = TextOps.qDocSourceOverlap(spark, sf).collect()
    val srcs = vocab.keys.toSeq.sorted
    assert(rows.length === srcs.size * (srcs.size - 1) / 2, "all pairs present")
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      assert(a < b)
      val (va, vb) = (vocab(a), vocab(b))
      val inter = (va & vb).size.toLong
      val union = (va | vb).size.toLong
      assert(r.getAs[Long]("va") === va.size.toLong)
      assert(r.getAs[Long]("vb") === vb.size.toLong)
      assert(r.getAs[Long]("n_inter") === inter)
      assert(r.getAs[Long]("n_union") === union)
      assert(r.getAs[Double]("jaccard") === inter.toDouble / union)
    }
  }

  test("phrase search: occurrence counts replay; only true adjacent matches") {
    import graft.ext.TextOps
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val phrase = TextOps.phraseTerms
    val expected = docs.map { case (id, ws) =>
      id -> ws.indices.count(i => i + phrase.size <= ws.length &&
        phrase.indices.forall(k => ws(i + k) == phrase(k))).toLong
    }.filter(_._2 > 0).toMap
    val rows = TextOps.qDocPhraseSearch(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occurrences"))
    assert(rows.toMap === expected)
    assert(rows.nonEmpty, "phrase must occur in the synthetic corpus")
    // sorted by occurrences desc, then doc_id
    val keys = rows.map { case (id, n) => (-n, id) }
    assert(keys.zip(keys.tail).forall { case (x, y) =>
      implicitly[Ordering[(Long, Long)]].lteq(x, y) })
  }

  test("kNN confusion: cells replay from classify-identical preds; margins consistent") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val qs = emb.filter(_._1 % Similarity.evalQueryMod == 0)
    val cs = emb.filter(_._1 % Similarity.evalQueryMod != 0)
    val preds = qs.map { case (qid, qlab, qe) =>
      val qn = math.sqrt(dotd(qe, qe))
      val top = cs.map { case (cid, clab, ce) =>
        (dotd(qe, ce) / (qn * math.sqrt(dotd(ce, ce))), cid, clab) }
        .sortBy { case (cos, cid, _) => (-cos, cid) }.take(Similarity.knnK)
      val votes = top.groupBy(_._3).map { case (l, xs) => (l, xs.length) }
      (qlab, votes.toSeq.sortBy { case (l, n) => (-n, l) }.head._1)
    }
    val cells = preds.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val rowTot = preds.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    val colTot = preds.groupBy(_._2).map { case (k, xs) => k -> xs.length.toLong }
    val rows = Similarity.qEmbKnnConfusion(spark, sf).collect()
    assert(rows.length === cells.size)
    rows.foreach { r =>
      val k = (r.getAs[Int]("true_label"), r.getAs[Int]("pred_label"))
      assert(r.getAs[Long]("n") === cells(k))
      assert(r.getAs[Long]("row_total") === rowTot(k._1))
      assert(r.getAs[Long]("col_total") === colTot(k._2))
      assert(r.getAs[Double]("recall_share") === cells(k).toDouble / rowTot(k._1))
      assert(r.getAs[Double]("precision_share") === cells(k).toDouble / colTot(k._2))
    }
    // diagonal mass must equal classify's total correct count
    val diag = rows.filter(r => r.getAs[Int]("true_label") == r.getAs[Int]("pred_label"))
      .map(_.getAs[Long]("n")).sum
    val classifyCorrect = Similarity.qEmbKnnClassify(spark, sf).collect()
      .map(_.getAs[Long]("n_correct")).sum
    assert(diag === classifyCorrect)
  }

  test("gram matrix: exact quantized replay on sampled cells, full shape") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray)
    val d = emb.head.length
    val rows = Similarity.qEmbGram(spark, sf).collect()
      .map(r => (r.getAs[Int]("di"), r.getAs[Int]("dj")) -> r).toMap
    assert(rows.size === d * (d + 1) / 2, "upper triangle complete")
    val dimSum = Array.tabulate(d)(i => emb.map(_(i)).sum)
    // exact replay on a deterministic sample of cells (full d² replay is
    // an O(n·d²) driver loop — the diagonal + one off-diagonal band
    // exercises every dimension twice)
    val sample = (0 until d).map(i => (i, i)) ++ (0 until d - 1).map(i => (i, i + 1))
    sample.foreach { case (i, j) =>
      val r = rows((i, j))
      val sij = emb.map(q => q(i) * q(j)).sum
      assert(r.getAs[Long]("n") === emb.length.toLong)
      assert(r.getAs[Long]("s_ij") === sij, s"cell ($i,$j)")
      assert(r.getAs[Long]("s_i") === dimSum(i))
      assert(r.getAs[Long]("s_j") === dimSum(j))
      val n = emb.length.toDouble
      assert(r.getAs[Double]("cov") ===
        (sij / n - (dimSum(i) / n) * (dimSum(j) / n)) / 1e6)
    }
  }

  test("event type corr: exact integer sums, zero-filled grid, r in [-1,1]") {
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("event_type")).collect()
      .map(r => (r.getAs[java.sql.Date](0).toString, r.getString(1)))
    val days = ev.map(_._1).distinct.sorted
    val types = ev.map(_._2).distinct.sorted
    val cnt = ev.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val series = types.map(t => t -> days.map(dy => cnt.getOrElse((dy, t), 0L))).toMap
    val rows = Analytics.qEventTypeCorr(spark, sf).collect()
    assert(rows.length === types.size * (types.size - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      val (xs, ys) = (series(a), series(b))
      val n = days.size.toLong
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val sxx = xs.map(x => x * x).sum
      val syy = ys.map(y => y * y).sum
      assert(r.getAs[Long]("n_days") === n)
      assert(r.getAs[Long]("sx") === sx && r.getAs[Long]("sy") === sy)
      assert(r.getAs[Long]("sxy") === sxy)
      val expR = (n * sxy - sx * sy).toDouble /
        math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
      assert(r.getAs[Double]("pearson_r") === expR)
      assert(math.abs(expR) <= 1.0 + 1e-12)
    }
  }

  test("incremental join maintenance: delta algebra equals full recompute") {
    val rows = graft.queries.Warehouse.qIncrJoinMaintain(spark, sf).collect()
    assert(rows.nonEmpty)
    // the op's own per-row proof column must hold everywhere
    assert(rows.forall(_.getAs[Boolean]("matches_full")), "delta-merge must equal recompute")
    // and the maintained view must equal a direct independent join
    val direct = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Int]("c_nationkey") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n") === direct(r.getAs[Int]("c_nationkey")))
    }
  }

  test("dedup ensemble: metrics replay, minhash row agrees with the recall audit") {
    val rows = Dedup.qDocDedupEnsemble(spark, sf).collect()
      .map(r => r.getAs[String]("method") -> r).toMap
    assert(rows.keySet === Set("minhash_lsh", "simhash", "winnow"))
    rows.values.foreach { r =>
      val (p, rec, f1) = (r.getAs[Double]("prec"), r.getAs[Double]("rec"),
        r.getAs[Double]("f1"))
      assert(p >= 0.0 && p <= 1.0 && rec >= 0.0 && rec <= 1.0)
      val expF1 = if (p + rec == 0.0) 0.0 else 2.0 * p * rec / (p + rec)
      assert(f1 === expF1)
      assert(r.getAs[Long]("n_found") <= r.getAs[Long]("n_pred"))
      assert(r.getAs[Long]("n_found") <= r.getAs[Long]("n_true"))
    }
    // the minhash arm is the same pipeline as q_doc_minhash_eval — its
    // counts must agree exactly with that audit's output
    val eval = Dedup.qDocMinhashEval(spark, sf).collect().head
    val mh = rows("minhash_lsh")
    assert(mh.getAs[Long]("n_true") === eval.getAs[Long]("n_true_pairs"))
    assert(mh.getAs[Long]("n_pred") === eval.getAs[Long]("n_lsh_pairs"))
    assert(mh.getAs[Long]("n_found") === eval.getAs[Long]("n_found"))
    // injected near-dups guarantee a non-degenerate audit at every SF
    assert(rows("minhash_lsh").getAs[Long]("n_true") > 0)
  }

  test("markov eval: leakage-free split — model replays from train-only transitions") {
    val cut = java.sql.Timestamp.valueOf("2024-01-25 00:00:00")
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](1), r.getLong(2), r.getString(3)))
    val pairs = ev.groupBy(_._1).values.flatMap { xs =>
      val s = xs.sortBy(x => (x._2.getTime * 1000 + (x._2.getNanos / 1000) % 1000, x._3))
      s.zip(s.tail).map { case (a, b) => (a._4, b._4, b._2) }
    }.toSeq
    val train = pairs.filter(_._3.before(cut))
      .groupBy(p => (p._1, p._2)).map { case (k, xs) => k -> xs.size.toLong }
    val model = train.groupBy(_._1._1).map { case (prev, cells) =>
      prev -> cells.toSeq.map { case ((_, nxt), n) => (nxt, n) }
        .sortBy { case (nxt, n) => (-n, nxt) }.head._1
    }
    val test = pairs.filterNot(_._3.before(cut))
    val expected = test.groupBy(_._1).map { case (prev, xs) =>
      prev -> (model(prev), xs.size.toLong, xs.count(_._2 == model(prev)).toLong)
    }
    val rows = Analytics.qEventMarkovEval(spark, sf).collect()
    assert(rows.map(_.getAs[String]("prev_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (pred, n, correct) = expected(r.getAs[String]("prev_type"))
      assert(r.getAs[String]("predicted") === pred)
      assert(r.getAs[Long]("n_test") === n)
      assert(r.getAs[Long]("n_correct") === correct)
      assert(r.getAs[Double]("accuracy") === correct.toDouble / n)
    }
  }

  test("basket rules: exact replay of support/confidence/lift; directed symmetry") {
    val items = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nBaskets = items.map(_._1).size.toLong
    val itemN = items.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
    val byBasket = items.groupBy(_._1).values
    val pairN = byBasket.flatMap { xs =>
      val ps = xs.map(_._2).toSeq.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
      .filter(_._2 >= Analytics.basketMinSupport)
    val rows = Analytics.qBasketRules(spark, sf).collect()
    assert(rows.length === pairN.size * 2, "both rule directions present")
    rows.foreach { r =>
      val (a, c) = (r.getAs[Long]("antecedent"), r.getAs[Long]("consequent"))
      val nb = pairN(if (a < c) (a, c) else (c, a))
      assert(r.getAs[Long]("n_both") === nb)
      assert(r.getAs[Long]("n_ante") === itemN(a))
      assert(r.getAs[Long]("n_cons") === itemN(c))
      assert(r.getAs[Double]("support") === nb.toDouble / nBaskets)
      assert(r.getAs[Double]("confidence") === nb.toDouble / itemN(a))
      assert(r.getAs[Double]("lift") ===
        (nb * nBaskets).toDouble / (itemN(a) * itemN(c)).toDouble)
    }
  }

  test("join cardinality audit: estimate formula replays; actual is the true join size") {
    val rows = graft.queries.Warehouse.qJoinCardEst(spark, sf).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      val (da, db) = (r.getAs[Long]("d_a"), r.getAs[Long]("d_b"))
      assert(r.getAs[Long]("estimated") === na * nb / math.max(da, db))
      assert(r.getAs[Double]("actual_over_est") ===
        r.getAs[Long]("actual").toDouble / r.getAs[Long]("estimated").toDouble)
    }
    // FK joins: actual must equal the FK side's row count
    val byName = rows.map(r => r.getAs[String]("join_name") -> r).toMap
    assert(byName("customer_orders").getAs[Long]("actual") ===
      byName("customer_orders").getAs[Long]("n_b"))
    assert(byName("lineitem_part").getAs[Long]("actual") ===
      byName("lineitem_part").getAs[Long]("n_a"))
  }

  test("zonemap audit: sorted layout prunes, arrival does not; counts replay") {
    val rows = graft.etl.Layout.qLayoutZonemap(spark, sf).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    assert(rows.keySet === Set("arrival", "value_sorted"))
    val vals = Tables.events(spark, sf).select("value").collect().map(_.getDouble(0))
    val matched = vals.count(v =>
      v >= graft.etl.Layout.zonemapLo && v <= graft.etl.Layout.zonemapHi).toLong
    rows.values.foreach { r =>
      assert(r.getAs[Long]("rows_matched") === matched)
      assert(r.getAs[Long]("rows_scanned") >= matched, "pruning must be lossless")
    }
    // the sorted layout bounds scanned rows by matched rows rounded up to
    // zone granularity (+1 boundary zone); arrival order prunes nothing here
    val sorted = rows("value_sorted")
    assert(sorted.getAs[Long]("rows_scanned") <=
      ((matched / graft.etl.Layout.zonemapRows) + 2) * graft.etl.Layout.zonemapRows)
    assert(rows("arrival").getAs[Long]("n_pruned") === 0L)
    assert(sorted.getAs[Long]("n_pruned") > 0L)
    assert(sorted.getAs[Double]("read_amplification") <=
      rows("arrival").getAs[Double]("read_amplification"))
  }

  test("lateness audit: exact replay of the bucket-frontier arrival model") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), expr("unix_micros(ts)").as("et")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % Analytics.latenessMaxDelay
    }
    val arr = ev.map { case (id, et) => (et, (et + h(id) * 1000000L) / 1000000L) }
    val bucketMax = arr.groupBy(_._2).map { case (s, xs) => s -> xs.map(_._1).max }
    val secs = bucketMax.keys.toSeq.sorted
    val frontier = secs.zipWithIndex.map { case (s, i) =>
      s -> (if (i == 0) None else Some(secs.take(i).map(bucketMax).max))
    }.toMap
    val lates = arr.map { case (et, s) =>
      frontier(s).map(f => math.max(0L, f - et)).getOrElse(0L)
    }
    val row = Analytics.qEventLateness(spark, sf).collect().head
    assert(row.getAs[Long]("n_events") === ev.length.toLong)
    assert(row.getAs[Long]("n_late") === lates.count(_ > 0).toLong)
    assert(row.getAs[Long]("dropped_at_30s") === lates.count(_ > 30000000L).toLong)
    assert(row.getAs[Long]("max_lateness_s") === lates.max / 1000000L)
    // the synthetic delay is bounded, so lateness must be too
    assert(row.getAs[Long]("max_lateness_s") <= Analytics.latenessMaxDelay)
    // sanity: the arrival model actually creates lateness to audit
    assert(row.getAs[Long]("n_late") > 0)
  }

  test("dispersion: variance/fano replay exactly from integer sums") {
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("d"), col("event_type")).collect()
      .map(r => (r.getAs[java.sql.Date](0).toString, r.getString(1)))
    val days = ev.map(_._1).distinct
    val types = ev.map(_._2).distinct
    val cnt = ev.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val rows = Analytics.qEventDispersion(spark, sf).collect()
    assert(rows.length === types.size)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val xs = days.map(d => cnt.getOrElse((d, t), 0L))
      val n = xs.size.toLong
      val (sx, sxx) = (xs.sum, xs.map(x => x * x).sum)
      assert(r.getAs[Long]("n_days") === n)
      assert(r.getAs[Long]("total") === sx)
      assert(r.getAs[Double]("var_daily") ===
        (n * sxx - sx * sx).toDouble / (n * (n - 1)).toDouble)
      assert(r.getAs[Double]("fano") ===
        (n * sxx - sx * sx).toDouble / ((n - 1) * sx).toDouble)
      assert(r.getAs[Double]("fano") > 0)
    }
  }

  test("RFM: quartile scores conserve customers; revenue mass conserved") {
    val rows = graft.queries.Warehouse.qCustRfm(spark, sf).collect()
    val purchasers = Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum === purchasers)
    // each score dimension partitions customers into near-equal quartiles
    for (dim <- Seq("r_score", "f_score", "m_score")) {
      val byScore = rows.groupBy(_.getAs[Int](dim))
        .map { case (s, rs) => s -> rs.map(_.getAs[Long]("n_customers")).sum }
      assert(byScore.keySet === Set(1, 2, 3, 4), s"$dim tiles")
      val (mx, mn) = (byScore.values.max, byScore.values.min)
      assert(mx - mn <= 1, s"$dim ntile balance: $byScore")
    }
    // revenue conservation vs direct recompute (decimal-exact then one cast)
    val direct = Tables.orders(spark, sf)
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"))
      .head.getDouble(0)
    assert(math.abs(rows.map(_.getAs[Double]("revenue")).sum - direct) < 1e-4)
  }

  test("power iteration: exact integer replay of matrix, iterations and Rayleigh") {
    val emb = Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1000).toLong).toArray)
    val d = emb.head.length
    val n = emb.length.toLong
    val sij = Array.tabulate(d, d)((i, j) => emb.map(q => q(i) * q(j)).sum)
    val sd = Array.tabulate(d)(i => emb.map(_(i)).sum)
    val m0 = Array.tabulate(d, d)((i, j) => n * sij(i)(j) - sd(i) * sd(j))
    val mm = m0.flatten.map(math.abs).max
    val divisor = math.max(1L, mm / Similarity.powerMatScale)
    val m = m0.map(_.map(_ / divisor))
    var v = Array.fill(d)(Similarity.powerVecScale)
    for (_ <- 1 to Similarity.powerIters) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
      val mw = w.map(math.abs).max
      v = w.map(x => x * Similarity.powerVecScale / mw)
    }
    val sgn = if (v(0) < 0) -1L else 1L
    val vf = v.map(_ * sgn)
    val vmv = (for (i <- 0 until d; j <- 0 until d) yield m(i)(j) * vf(i) * vf(j)).sum
    val vv = vf.map(x => x * x).sum
    val rows = Similarity.qEmbPowerIter(spark, sf).collect()
    assert(rows.length === d)
    rows.foreach { r =>
      assert(r.getAs[Long]("v") === vf(r.getAs[Int]("d")), s"dim ${r.getAs[Int]("d")}")
      assert(r.getAs[Double]("rayleigh_scaled") ===
        vmv.toDouble / vv.toDouble / Similarity.powerMatScale)
    }
    // the dominant covariance direction must carry positive variance
    assert(rows.head.getAs[Double]("rayleigh_scaled") > 0)
  }

  test("CUPED: moments replay exactly; adjusted variance never exceeds raw by theory") {
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](1), r.getDouble(2)))
    def cents(v: Double): Long = math.floor(v * 100 + 0.5).toLong
    val perUser = ev.groupBy(_._1).map { case (u, xs) =>
      val pre = xs.filter(_._2.before(cut)).map(x => cents(x._3)).sum
      val post = xs.filterNot(_._2.before(cut)).map(x => cents(x._3)).sum
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      val arm = (java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.take(15), 16) % 2).toInt
      (u, arm, pre, post)
    }.toSeq
    val pn = perUser.size.toLong
    val (px, py) = (perUser.map(_._3).sum, perUser.map(_._4).sum)
    val pxy = perUser.map(x => x._3 * x._4).sum
    val pxx = perUser.map(x => x._3 * x._3).sum
    val theta = (pn * pxy - px * py).toDouble / (pn * pxx - px * px).toDouble
    val rows = Analytics.qEventAbCuped(spark, sf).collect()
    assert(rows.length === 2)
    assert(rows.map(_.getAs[Long]("n_users")).sum === pn)
    rows.foreach { r =>
      val arm = r.getAs[Int]("arm")
      val xs = perUser.filter(_._2 == arm)
      val na = xs.size.toLong
      val (sx, sy) = (xs.map(_._3).sum, xs.map(_._4).sum)
      val (sxx, syy, sxy) =
        (xs.map(x => x._3 * x._3).sum, xs.map(x => x._4 * x._4).sum,
          xs.map(x => x._3 * x._4).sum)
      assert(r.getAs[Long]("n_users") === na)
      assert(r.getAs[Double]("theta") === theta)
      assert(r.getAs[Double]("mean_post") === sy.toDouble / na / 100.0)
      val varPost = (na * syy - sy * sy).toDouble / (na * (na - 1)).toDouble / 10000.0
      assert(r.getAs[Double]("var_post") === varPost)
      val varCuped = ((na * syy - sy * sy).toDouble -
        2.0 * theta * (na * sxy - sx * sy).toDouble +
        theta * theta * (na * sxx - sx * sx).toDouble) /
        (na * (na - 1)).toDouble / 10000.0
      assert(r.getAs[Double]("var_cuped") === varCuped)
      assert(varCuped > 0, "adjusted variance must stay positive")
    }
  }

  test("survival curve: exact lifetime replay; S(t) monotone, hazard bounded") {
    val lts = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toLocalDate.toEpochDay))
      .groupBy(_._1).map { case (_, xs) =>
        val ds = xs.map(_._2); (ds.max - ds.min).toInt
      }.toSeq
    val nUsers = lts.size.toLong
    val rows = Analytics.qEventSurvival(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_end")).sum === nUsers)
    rows.foreach { r =>
      val t = r.getAs[Int]("t_days")
      val atRisk = lts.count(_ >= t).toLong
      assert(r.getAs[Long]("n_end") === lts.count(_ == t).toLong)
      assert(r.getAs[Long]("n_at_risk") === atRisk)
      assert(r.getAs[Double]("survival") === atRisk.toDouble / nUsers)
      val h = r.getAs[Double]("hazard")
      assert(h >= 0.0 && h <= 1.0)
    }
    // S is non-increasing in t
    val surv = rows.sortBy(_.getAs[Int]("t_days")).map(_.getAs[Double]("survival"))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a })
  }

  test("dedup threshold sweep: monotone pair counts; planted dups survive tau=0.9") {
    val rows = Dedup.qDocDedupSweep(spark, sf).collect()
      .sortBy(_.getAs[Double]("tau"))
    assert(rows.map(_.getAs[Double]("tau")).toSeq ===
      Dedup.sweepThresholds.map { case (n, d) => n.toDouble / d })
    // lower tau admits a superset of pairs — counts must be monotone
    val pairs = rows.map(_.getAs[Long]("n_pairs"))
    assert(pairs.zip(pairs.tail).forall { case (lo, hi) => lo >= hi })
    rows.foreach { r =>
      assert(r.getAs[Long]("n_droppable") <= r.getAs[Long]("n_docs_touched"))
      assert(r.getAs[Long]("n_docs_touched") <= 2 * r.getAs[Long]("n_pairs"))
    }
    // the planted J≈0.95 near-dups must survive even the strictest cut
    assert(rows.last.getAs[Long]("n_pairs") > 0)
  }

  test("energy spectrum: exact variance numerators; cumulative share reaches 1") {
    val emb = Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1000).toLong).toArray)
    val d = emb.head.length
    val n = emb.length.toLong
    val varNum = Array.tabulate(d) { i =>
      val s = emb.map(_(i)).sum
      n * emb.map(q => q(i) * q(i)).sum - s * s
    }
    val rows = Similarity.qEmbEnergySpectrum(spark, sf).collect()
    assert(rows.length === d)
    rows.foreach { r =>
      assert(r.getAs[Long]("var_num") === varNum(r.getAs[Int]("d")))
    }
    // ranked descending; cumulative share ends at 1
    val byRank = rows.sortBy(_.getAs[Int]("rank"))
    val vs = byRank.map(_.getAs[Long]("var_num"))
    assert(vs.zip(vs.tail).forall { case (a, b) => a >= b })
    assert(math.abs(byRank.last.getAs[Double]("cum_energy") - 1.0) < 1e-9)
    assert(byRank.head.getAs[Double]("energy_share") ===
      varNum.max.toDouble / varNum.sum.toDouble)
  }

  test("cross correlation: lag-0 symmetric, exact replay on one shifted pair") {
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("event_type")).collect()
      .map(r => (r.getAs[java.sql.Date](0).toLocalDate.toEpochDay, r.getString(1)))
    val days = ev.map(_._1).distinct.sorted
    val types = ev.map(_._2).distinct.sorted
    val cnt = ev.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val rows = Analytics.qEventCrossCorr(spark, sf).collect()
    assert(rows.length === types.size * (types.size - 1) * (Analytics.xcorrMaxLag + 1))
    val get = rows.map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b"),
      r.getAs[Int]("lag")) -> r).toMap
    // lag 0 is symmetric
    for (a <- types; b <- types if a != b) {
      assert(get((a, b, 0)).getAs[Double]("xcorr") ===
        get((b, a, 0)).getAs[Double]("xcorr"))
    }
    // exact replay for one ordered pair across all lags
    val (ta, tb) = (types.head, types.last)
    for (lag <- 0 to Analytics.xcorrMaxLag) {
      val obs = days.flatMap { d =>
        if (days.contains(d + lag))
          Some((cnt.getOrElse((d, ta), 0L), cnt.getOrElse((d + lag, tb), 0L)))
        else None
      }
      val n = obs.size.toLong
      val (sx, sy) = (obs.map(_._1).sum, obs.map(_._2).sum)
      val sxy = obs.map(o => o._1 * o._2).sum
      val sxx = obs.map(o => o._1 * o._1).sum
      val syy = obs.map(o => o._2 * o._2).sum
      val r = get((ta, tb, lag))
      assert(r.getAs[Long]("n_days") === n)
      assert(r.getAs[Double]("xcorr") ===
        (n * sxy - sx * sy).toDouble /
          math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble))
    }
  }

  test("ABC classification: partition by cumulative share; masses conserve") {
    val rows = graft.queries.Warehouse.qPartAbc(spark, sf).collect()
      .map(r => r.getAs[String]("abc_class") -> r).toMap
    assert(rows.keySet.subsetOf(Set("A", "B", "C")) && rows.contains("A"))
    val nParts = Tables.lineitem(spark, sf)
      .select("l_partkey").distinct().count()
    assert(rows.values.map(_.getAs[Long]("n_parts")).sum === nParts)
    val shares = rows.values.map(_.getAs[Double]("revenue_share")).sum
    assert(math.abs(shares - 1.0) < 1e-9, s"shares sum to $shares")
    // A holds at most 80% of revenue + one boundary part; its per-part
    // revenue must exceed C's (Pareto ordering)
    if (rows.contains("C")) {
      val perA = rows("A").getAs[Double]("revenue") / rows("A").getAs[Long]("n_parts")
      val perC = rows("C").getAs[Double]("revenue") / rows("C").getAs[Long]("n_parts")
      assert(perA > perC)
    }
    assert(rows("A").getAs[Double]("revenue_share") <= 0.8 + 1e-9)
  }

  test("KL drift: exact micro-nat replay; both directions non-negative") {
    import graft.ext.TextOps
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mid = docs.map(_._1).max / 2
    def counts(p: ((Long, String)) => Boolean): Map[String, Long] =
      docs.filter(p).flatMap(_._2.split(" ", -1))
        .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val ca = counts(_._1 <= mid)
    val cb = counts(_._1 > mid)
    val vocab = (ca.keySet | cb.keySet)
    val (ta, tb, v) = (ca.values.sum, cb.values.sum, vocab.size.toLong)
    def qln(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    val sab = vocab.toSeq.map { w =>
      val (a, b) = (ca.getOrElse(w, 0L), cb.getOrElse(w, 0L))
      (a + 1) * (qln(a + 1) - qln(ta + v) - qln(b + 1) + qln(tb + v))
    }.sum
    val sba = vocab.toSeq.map { w =>
      val (a, b) = (ca.getOrElse(w, 0L), cb.getOrElse(w, 0L))
      (b + 1) * (qln(b + 1) - qln(tb + v) - qln(a + 1) + qln(ta + v))
    }.sum
    val row = TextOps.qDocKlDrift(spark, sf).collect().head
    assert(row.getAs[Long]("tokens_early") === ta)
    assert(row.getAs[Long]("tokens_late") === tb)
    assert(row.getAs[Long]("joint_vocab") === v)
    assert(row.getAs[Double]("kl_early_late") === sab.toDouble / (ta + v) / 1e6)
    assert(row.getAs[Double]("kl_late_early") === sba.toDouble / (tb + v) / 1e6)
    // KL ≥ 0 up to the micro-nat quantization slack
    assert(row.getAs[Double]("kl_early_late") > -1e-5)
    assert(row.getAs[Double]("kl_late_early") > -1e-5)
  }

  test("entropy rate: exact replay; bounded by log of branch count") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](1), r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).values.flatMap { xs =>
      val s = xs.sortBy(x => (x._2.getTime * 1000 + (x._2.getNanos / 1000) % 1000, x._3))
      s.zip(s.tail).map { case (a, b) => (a._4, b._4) }
    }.toSeq
    def qln(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    val rows = Analytics.qEventEntropyRate(spark, sf).collect()
    val byPrev = trans.groupBy(_._1)
    assert(rows.map(_.getAs[String]("prev_type")).toSet === byPrev.keySet)
    rows.foreach { r =>
      val xs = byPrev(r.getAs[String]("prev_type"))
      val np = xs.size.toLong
      val cells = xs.groupBy(_._2).map { case (_, g) => g.size.toLong }
      val hNum = cells.map(npt => npt * (qln(np) - qln(npt))).sum
      assert(r.getAs[Long]("n_transitions") === np)
      assert(r.getAs[Long]("n_branches") === cells.size.toLong)
      assert(r.getAs[Double]("h_next_nats") === hNum.toDouble / np / 1e6)
      assert(r.getAs[Double]("h_next_nats") <=
        math.log(cells.size.toDouble) + 1e-6, "H bounded by ln(branches)")
      assert(r.getAs[Double]("state_share") === np.toDouble / trans.size)
    }
  }

  test("lead time: exact day-diff replay; histogram conserves lines") {
    val rows = Analytics.qOrderLeadTime(spark, sf).collect()
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("d"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val byP = direct.groupBy(_._1)
    assert(rows.map(_.getAs[String]("o_orderpriority")).toSet === byP.keySet)
    rows.foreach { r =>
      val ds = byP(r.getAs[String]("o_orderpriority")).map(_._2)
      assert(r.getAs[Long]("n_lines") === ds.size.toLong)
      assert(r.getAs[Int]("min_days") === ds.min)
      assert(r.getAs[Int]("max_days") === ds.max)
      assert(r.getAs[Double]("mean_days") === ds.map(_.toLong).sum.toDouble / ds.size)
      val buckets = Seq(r.getAs[Long]("d0_30"), r.getAs[Long]("d31_60"),
        r.getAs[Long]("d61_90"), r.getAs[Long]("d_over_90"))
      assert(buckets.sum === ds.size.toLong, "histogram conserves")
      assert(r.getAs[Long]("d0_30") === ds.count(_ <= 30).toLong)
    }
  }

  test("event user overlap: exact set replay, jaccard bounds") {
    val ut = Tables.events(spark, sf)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val byType = ut.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._1) }
    val types = byType.keys.toSeq.sorted
    val rows = Analytics.qEventUserOverlap(spark, sf).collect()
    assert(rows.length === types.size * (types.size - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      val inter = (byType(a) & byType(b)).size.toLong
      assert(r.getAs[Long]("n_a") === byType(a).size.toLong)
      assert(r.getAs[Long]("n_b") === byType(b).size.toLong)
      assert(r.getAs[Long]("n_both") === inter)
      val union = (byType(a) | byType(b)).size.toLong
      assert(r.getAs[Double]("jaccard") === inter.toDouble / union)
      assert(r.getAs[Double]("jaccard") >= 0.0 && r.getAs[Double]("jaccard") <= 1.0)
    }
  }

  /** Sequential-fold cosine matching VectorDot's float→double widening. */
  private def localCos(a: scala.collection.Seq[Float], b: scala.collection.Seq[Float]): Double =
    localCosD(a.map(_.toDouble), b.map(_.toDouble))

  private def localCosD(a: scala.collection.Seq[Double], b: scala.collection.Seq[Double]): Double = {
    def dot(x: scala.collection.Seq[Double], y: scala.collection.Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  test("semantic decontam: exact pair replay; planted eval paraphrase caught") {
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble)).toMap
    val train = base.filter(_._1 >= Similarity.nQueryVecs) ++
      base.filter(_._1 % 25 == 0).map { case (id, e) =>
        (id + 100000L) -> (Seq(e.head + 0.5) ++ e.tail)
      }
    val expected = for {
      (ev, qe) <- base.toSeq if ev < Similarity.nQueryVecs
      (tv, ce) <- train.toSeq
      c = localCosD(qe, ce) if c >= Similarity.decontamCos
    } yield (ev, tv, c)
    val rows = Similarity.qEmbDecontam(spark, sf).collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine")))
    assert(rows.toSet === expected.toSet, "flagged pairs replay exactly")
    // the testdata injection copies vector 0 (an eval vector) to id
    // 100000 at cosine ~0.89 — the paraphrase this op exists to catch
    assert(rows.exists { case (ev, tv, _) => ev === 0L && tv === 100000L })
    assert(rows.forall { case (ev, tv, c) =>
      ev < Similarity.nQueryVecs && tv >= Similarity.nQueryVecs &&
        c >= Similarity.decontamCos && c <= 1.0 + 1e-12
    })
  }

  test("hybrid RRF: full local fusion replay of both arms") {
    val k = Similarity.rrfK
    // lexical arm: ranks derived from the (oracle-green) BM25 pool
    val lexRanks = TextOps.qDocBm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // dense arm: local cosine vs vector 0, top-20 pool
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
    val q0 = embs(0L)
    val denseRanks = embs.toSeq.filter(_._1 != 0L)
      .map { case (id, e) => (id, localCos(q0, e)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(Similarity.rrfPoolN)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    def term(r: Long): Double = if (r > 0) 1.0 / (k.toDouble + r.toDouble) else 0.0
    val expected = (lexRanks.keySet ++ denseRanks.keySet).toSeq
      .map { id =>
        val (lr, dr) = (lexRanks.getOrElse(id, 0L), denseRanks.getOrElse(id, 0L))
        (id, lr, dr, term(lr) + term(dr))
      }
      .sortBy { case (id, _, _, s) => (-s, id) }
      .take(Similarity.rrfTopN)
    val rows = Similarity.qHybridRrf(spark, sf).collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("lex_rank"),
        r.getAs[Long]("dense_rank"), r.getAs[Double]("rrf")))
    assert(rows.toSeq === expected, "fusion replays bit-exactly")
    assert(rows.forall { case (_, lr, dr, _) =>
      lr >= 0 && lr <= Similarity.rrfPoolN && dr >= 0 && dr <= Similarity.rrfPoolN &&
        (lr > 0 || dr > 0)
    })
    assert(rows.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      "output ranked by fused score")
  }

  test("source gini: exact rank-form replay; Lorenz curve closes at 1") {
    val bytes = Tables.documents(spark, sf).select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2).sum) }.toSeq
      .sortBy { case (s, b) => (b, s) }
    val n = bytes.length.toLong
    val s0 = bytes.map(_._2).sum
    val s1 = bytes.zipWithIndex.map { case ((_, b), i) => (i + 1L) * b }.sum
    val gini = (2L * s1 - (n + 1L) * s0).toDouble / (n * s0).toDouble
    val rows = CorpusOps.qDocSourceGini(spark, sf).collect()
    assert(rows.length.toLong === n)
    var cum = 0L
    rows.zipWithIndex.foreach { case (r, i) =>
      val (src, b) = bytes(i)
      cum += b
      assert(r.getAs[String]("source") === src)
      assert(r.getAs[Long]("bytes") === b)
      assert(r.getAs[Long]("rnk") === i + 1L)
      assert(r.getAs[Long]("cum_bytes") === cum)
      assert(r.getAs[Double]("cum_share") === cum.toDouble / s0.toDouble)
      assert(r.getAs[Double]("gini") === gini)
    }
    assert(rows.last.getAs[Double]("cum_share") === 1.0, "Lorenz closes at 1")
    assert(gini >= 0.0 && gini < 1.0)
  }

  test("supplier HHI: exact decimal/k$ replay; DOJ class consistent") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val li = Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_extendedprice", "l_discount").collect()
    val revBySupp = li.groupBy(_.getLong(0)).map { case (sk, rows) =>
      val sum = rows.map { r =>
        val p = new JBD(r.get(1).toString).setScale(4, RoundingMode.HALF_UP)
        val d = new JBD(r.get(2).toString).setScale(4, RoundingMode.HALF_UP)
        p.multiply(JBD.ONE.subtract(d))
      }.reduce(_.add(_))
      sk -> sum.movePointRight(4).toBigInteger.longValueExact / graft.queries.Warehouse.hhiKusdUnit
    }
    val nationOfSupp = Tables.supplier(spark, sf).select("s_suppkey", "s_nationkey")
      .collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    val nationName = Tables.nation(spark, sf).select("n_nationkey", "n_name")
      .collect().map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap
    val byNation = revBySupp.toSeq
      .groupBy { case (sk, _) => nationName(nationOfSupp(sk)) }
    val rows = graft.queries.Warehouse.qSuppHhi(spark, sf).collect()
    assert(rows.map(_.getAs[String]("nation")).toSet === byNation.keySet)
    rows.foreach { r =>
      val rs = byNation(r.getAs[String]("nation")).map(_._2)
      val (num, den) = (rs.map(x => x * x).sum, rs.sum * rs.sum)
      assert(r.getAs[Long]("n_suppliers") === rs.size.toLong)
      assert(r.getAs[Long]("rev_kusd") === rs.sum)
      assert(r.getAs[Long]("hhi_num") === num)
      val hhi = r.getAs[Double]("hhi")
      if (rs.sum > 0) {
        assert(hhi === 10000.0 * num.toDouble / den.toDouble)
        // HHI is bounded by [10⁴/n, 10⁴] for n equal shares vs monopoly
        assert(hhi <= 10000.0 + 1e-9 && hhi >= 10000.0 / rs.size - 1e-9)
      }
      val cls = r.getAs[String]("conc_class")
      assert(cls === (if (num * 10000L > den * 2500L) "high"
        else if (num * 10000L > den * 1500L) "moderate" else "low"))
    }
  }

  test("anisotropy: exact quantized replay; identities between the ratios hold") {
    val qs = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0)
        .map(x => math.floor(x.toDouble * Similarity.gramScale).toLong))
    val n = qs.length.toLong
    val d = qs.head.length
    val sD = (0 until d).map(i => qs.map(_(i)).sum)
    val ssq = sD.map(s => s * s).sum
    val trace = qs.map(q => q.map(v => v * v).sum).sum
    val row = Similarity.qEmbAnisotropy(spark, sf).head
    assert(row.getAs[Long]("n_vecs") === n)
    assert(row.getAs[Long]("trace") === trace)
    assert(row.getAs[Long]("ssq") === ssq)
    val sc2 = Similarity.gramScale.toDouble * Similarity.gramScale.toDouble
    assert(row.getAs[Double]("avg_pair_dot") ===
      (ssq - trace).toDouble / (n * (n - 1)).toDouble / sc2)
    assert(row.getAs[Double]("mean_sq_norm") === trace.toDouble / n.toDouble / sc2)
    val aniso = row.getAs[Double]("anisotropy")
    assert(aniso === (ssq - trace).toDouble / ((n - 1) * trace).toDouble)
    assert(math.abs(aniso) <= 1.0, "energy share bounded")
    assert(row.getAs[Double]("mean_norm_share") ===
      ssq.toDouble / (n * trace).toDouble)
  }

  test("quality CI: exact counts; Wilson interval brackets the share") {
    val rows = TextOps.qSrcQualityCi(spark, sf).collect()
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val stop = TextOps.stopwords.toSet
    def score(text: String): Double = {
      val toks = text.split(" ", -1)
      val nTok = toks.length.toDouble
      0.5 * (toks.distinct.length.toDouble / nTok) +
        0.3 * (toks.count(stop).toDouble / nTok) +
        0.2 * math.min(1.0, nTok / 100.0)
    }
    val bySrc = docs.groupBy(_._1)
    assert(rows.map(_.getAs[String]("source")).toSet === bySrc.keySet)
    val gk = docs.count(dd => score(dd._2) < TextOps.lowQualityCut).toLong
    rows.foreach { r =>
      val ds = bySrc(r.getAs[String]("source"))
      val k = ds.count(dd => score(dd._2) < TextOps.lowQualityCut).toLong
      assert(r.getAs[Long]("n_docs") === ds.length.toLong)
      assert(r.getAs[Long]("n_low") === k)
      val (lo, hi) = (r.getAs[Double]("wilson_lo"), r.getAs[Double]("wilson_hi"))
      val p = r.getAs[Double]("low_share")
      assert(p === k.toDouble / ds.length.toDouble)
      assert(lo >= 0.0 - 1e-12 && hi <= 1.0 + 1e-12, "Wilson stays in [0,1]")
      assert(lo <= p && p <= hi, "interval brackets the point estimate")
      assert(r.getAs[Double]("global_share") === gk.toDouble / docs.length.toDouble)
      assert(r.getAs[Boolean]("distinct_ci") ===
        (r.getAs[Double]("global_share") < lo || r.getAs[Double]("global_share") > hi))
    }
  }

  test("dataset fingerprint: customer arm replays; dataset row folds the tables") {
    import java.security.MessageDigest
    def portable(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val custHashes = Tables.customer(spark, sf).collect().map { r =>
      val cents = new java.math.BigDecimal(r.getAs[Double]("c_acctbal").toString)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .movePointRight(4).toBigInteger.longValueExact
      portable(Seq(r.getAs[Long]("c_custkey"), r.getAs[String]("c_name"),
        r.getAs[Int]("c_nationkey"), cents, r.getAs[String]("c_mktsegment"))
        .mkString("|"))
    }
    val rows = graft.etl.Quality.qDatasetFingerprint(spark, sf).collect()
      .map(r => r.getAs[String]("tbl") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("xor_hash"), r.getAs[Long]("sum_mod")))
      .toMap
    assert(rows.keySet === Set("customer", "orders", "lineitem", "zz_dataset"))
    val (cn, cx, cs) = rows("customer")
    assert(cn === custHashes.length.toLong)
    assert(cx === custHashes.reduce(_ ^ _))
    assert(cs === custHashes.map(_ % graft.etl.Quality.fpSumMod).sum)
    // the dataset row is the commutative fold of the three table rows
    val tables = Seq("customer", "orders", "lineitem").map(rows)
    assert(rows("zz_dataset")._1 === tables.map(_._1).sum)
    assert(rows("zz_dataset")._2 === tables.map(_._2).reduce(_ ^ _))
    assert(rows("zz_dataset")._3 === tables.map(_._3).sum)
  }

  test("burstiness: exact within-user gap-moment replay; B within (-1, 1)") {
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.sql.Timestamp](2).getTime * 1000 +
          (r.getAs[java.sql.Timestamp](2).getNanos / 1000) % 1000,
        r.getLong(3)))
    val gaps = evs.groupBy(e => (e._1, e._2)).toSeq.flatMap { case (_, xs) =>
      val sorted = xs.sortBy(e => (e._3, e._4)).toList
      sorted.sliding(2).collect {
        case a :: b :: Nil => (a._2, (b._3 - a._3) / 1000000L)
      }
    }
    val byType = gaps.groupBy(_._1)
    val rows = Analytics.qEventBurstiness(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === byType.keySet)
    rows.foreach { r =>
      val gs = byType(r.getAs[String]("event_type")).map(_._2)
      val (n, sg, sgg) = (gs.size.toLong, gs.sum, gs.map(g => g * g).sum)
      assert(r.getAs[Long]("n_gaps") === n)
      assert(r.getAs[Long]("sg") === sg)
      assert(r.getAs[Long]("sgg") === sgg)
      val mu = sg.toDouble / n.toDouble
      val sd = math.sqrt(sgg.toDouble / n.toDouble - mu * mu)
      assert(r.getAs[Double]("burstiness") === (sd - mu) / (sd + mu))
      val b = r.getAs[Double]("burstiness")
      assert(b > -1.0 && b < 1.0)
    }
  }

  test("HLL merge: exact daily counts; sketch and merged estimates tight") {
    val evs = Tables.events(spark, sf).select("ts", "user_id").collect()
      .map(r => (new java.text.SimpleDateFormat("yyyy-MM-dd") {
        setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      }.format(r.getAs[java.sql.Timestamp](0)), r.getLong(1)))
    val byDay = evs.groupBy(_._1).map { case (dd, xs) => dd -> xs.map(_._2).toSet }
    val rows = Sketches.qEventHllMerge(spark, sf).collect()
    assert(rows.map(_.getAs[String]("day")).toSet === byDay.keySet + "zz_month")
    rows.foreach { r =>
      val dd = r.getAs[String]("day")
      val exact = if (dd == "zz_month") evs.map(_._2).toSet.size else byDay(dd).size
      assert(r.getAs[Long]("exact_nd") === exact.toLong)
      assert(r.getAs[Boolean]("sketch_ok"), s"sketch within tolerance for $dd")
    }
    // mergeability, asserted tighter than the emitted 15% band: the
    // merged-daily estimate must sit within 1% of the exact month count
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate, hll_union_agg}
    val est = Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.to_date(col("ts")).as("d"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
      .head.getLong(0)
    val exactMonth = evs.map(_._2).toSet.size.toLong
    assert(math.abs(est - exactMonth) <= math.max(1L, exactMonth / 100))
  }

  test("layout advisor: sizes replay; ceilings and join advice consistent") {
    val rows = graft.etl.Layout.qLayoutAdvisor(spark, sf).collect()
    assert(rows.map(_.getAs[String]("tbl")).toSeq === Seq("customer", "lineitem", "orders"))
    val cust = Tables.customer(spark, sf)
      .select("c_name", "c_mktsegment").collect()
    val expBytes = cust.length.toLong * 20L +
      cust.map(r => r.getString(0).length.toLong + r.getString(1).length.toLong).sum
    val cr = rows.find(_.getAs[String]("tbl") == "customer").get
    assert(cr.getAs[Long]("n_rows") === cust.length.toLong)
    assert(cr.getAs[Long]("est_bytes") === expBytes)
    rows.foreach { r =>
      val b = r.getAs[Long]("est_bytes")
      def ceil(d: Long) = (b + d - 1) / d
      assert(r.getAs[Long]("files_128mb") === ceil(graft.etl.Layout.advFileBytes))
      assert(r.getAs[Long]("shuffle_parts_64mb") === ceil(graft.etl.Layout.advShuffleBytes))
      assert(r.getAs[String]("join_side_advice") ===
        (if (b < graft.etl.Layout.advBroadcastBytes) "broadcast" else "shuffle"))
    }
  }

  test("split balance: exact moment replay; SMD formula and verdict hold") {
    import java.security.MessageDigest
    def portable(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = Tables.documents(spark, sf).select("source", "n_chars", "text").collect()
      .map { r =>
        val b = portable(r.getString(2) + "|split") % 100
        val fold = if (b < CorpusOps.trainPct) "train"
          else if (b < CorpusOps.valPct) "val" else "test"
        (r.getString(0), fold, r.getLong(1))
      }
    def mom(xs: Seq[Long]): (Long, Long, Long) =
      (xs.size.toLong, xs.sum, xs.map(x => x * x).sum)
    val rows = CorpusOps.qDocSplitBalance(spark, sf).collect()
    val bySrc = docs.groupBy(_._1)
    assert(rows.map(_.getAs[String]("source")).toSet === bySrc.keySet)
    rows.foreach { r =>
      val ds = bySrc(r.getAs[String]("source"))
      val folds = Map("train" -> "n_tr", "val" -> "n_va", "test" -> "n_te")
      val moms = folds.keys.map(f => f -> mom(ds.filter(_._2 == f).map(_._3))).toMap
      folds.foreach { case (f, cn) => assert(r.getAs[Long](cn) === moms(f)._1) }
      def smd(f: String): Option[Double] = {
        val (n1, s1, ss1) = moms("train"); val (n2, s2, ss2) = moms(f)
        def vr(n: Long, s: Long, ss: Long) =
          (n * ss - s * s).toDouble / (n * n).toDouble
        if (n1 > 0 && n2 > 0 && vr(n1, s1, ss1) + vr(n2, s2, ss2) > 0)
          Some((s1.toDouble / n1 - s2.toDouble / n2) /
            math.sqrt((vr(n1, s1, ss1) + vr(n2, s2, ss2)) / 2.0))
        else None
      }
      val (sv, st) = (smd("val"), smd("test"))
      assert(Option(r.getAs[Any]("smd_val")).map(_.asInstanceOf[Double]) === sv)
      assert(Option(r.getAs[Any]("smd_test")).map(_.asInstanceOf[Double]) === st)
      assert(r.getAs[Boolean]("balanced") ===
        (sv.exists(v => math.abs(v) < 0.1) && st.exists(v => math.abs(v) < 0.1)))
    }
  }

  test("fuzzy merge: every injected typo reclaimed; canonicals beat variants") {
    val rows = TextOps.qVocabFuzzyMerge(spark, sf).collect()
      .map(r => (r.getAs[String]("variant"), r.getAs[String]("canonical"),
        r.getAs[Long]("c_variant"), r.getAs[Long]("c_canonical")))
    assert(rows.nonEmpty)
    // local vocab replay: terms of len >= minLen and their injected typos
    val counts = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
      .filter { case (t, _) => t.length >= TextOps.fuzzyMinLen }
    val typoOf = counts.keys.map(t => (t.charAt(0) + t.substring(2)) -> t).toMap
    // every injected typo must come back mapped to its source term
    typoOf.foreach { case (typo, srcTerm) =>
      if (!counts.contains(typo)) // a typo colliding with a real term merges
        assert(rows.exists { case (v, c, _, _) => v == typo && c == srcTerm },
          s"injected typo $typo of $srcTerm not reclaimed")
    }
    rows.foreach { case (v, c, cv, cc) =>
      assert(v != c)
      assert(cc >= cv, "canonical carries at least the variant count")
      // Symmetric Delete + verify: all surviving pairs truly distance <= 1
      def lev1(a: String, b: String): Boolean = {
        if (a == b) true
        else if (a.length == b.length) a.zip(b).count { case (x, y) => x != y } <= 1
        else {
          val (s1, s2) = if (a.length < b.length) (a, b) else (b, a)
          (0 until s2.length).exists(i => s2.substring(0, i) + s2.substring(i + 1) == s1)
        }
      }
      assert(lev1(v, c), s"pair ($v, $c) beyond distance 1")
    }
  }

  test("customer lifecycle: states replay; conservation over the customer file") {
    val boundary = java.time.Instant.parse(
      graft.queries.Warehouse.lifecycleBoundary + "T00:00:00Z")
    val orders = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderdate", "o_totalprice").collect()
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1).toInstant(java.time.ZoneOffset.UTC),
        r.getDouble(2)))
    val custs = Tables.customer(spark, sf).select("c_custkey").collect()
      .map(_.getLong(0)).toSet
    val byCust = orders.groupBy(_._1)
    val states = custs.toSeq.map { ck =>
      byCust.get(ck) match {
        case None => "never"
        case Some(os) =>
          val early = os.count(_._2.isBefore(boundary))
          val late = os.size - early
          if (early > 0 && late > 0) "retained"
          else if (early > 0) "churned" else "acquired"
      }
    }
    val expected = states.groupBy(identity).map { case (stt, xs) => stt -> xs.size.toLong }
    val rows = graft.queries.Warehouse.qCustLifecycle(spark, sf).collect()
    assert(rows.map(r => r.getAs[String]("state") -> r.getAs[Long]("n_customers"))
      .toMap === expected)
    assert(rows.map(_.getAs[Long]("n_customers")).sum === custs.size.toLong,
      "every customer lands in exactly one state")
    assert(rows.map(_.getAs[Long]("early_orders")).sum +
      rows.map(_.getAs[Long]("late_orders")).sum === orders.length.toLong)
  }

  test("feature correlation: exact quantized moments; grid bounds hold") {
    val rows = graft.etl.Quality.qLineFeatureCorr(spark, sf).collect()
    assert(rows.length === 6)
    val li = Tables.lineitem(spark, sf)
      .select("l_quantity", "l_extendedprice", "l_discount", "l_tax").collect()
    def bd(x: Double) = new java.math.BigDecimal(x.toString)
      .setScale(4, java.math.RoundingMode.HALF_UP)
    val feats = li.map { r =>
      Map(
        "qty" -> math.floor(r.getDouble(0)).toLong,
        "price_h" -> bd(r.getDouble(1)).setScale(0, java.math.RoundingMode.FLOOR)
          .longValueExact / 100,
        "disc_bp" -> bd(r.getDouble(2)).movePointRight(4).longValueExact,
        "tax_bp" -> bd(r.getDouble(3)).movePointRight(4).longValueExact)
    }
    val n = feats.length.toLong
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("col_a"), r.getAs[String]("col_b"))
      val (xs, ys) = (feats.map(_(a)), feats.map(_(b)))
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      assert(r.getAs[Long]("n_rows") === n)
      assert(r.getAs[Long]("sxy") === sxy)
      val pr = r.getAs[Double]("pearson_r")
      val (sx, sy) = (xs.sum, ys.sum)
      val (sxx, syy) = (xs.map(x => x * x).sum, ys.map(y => y * y).sum)
      assert(pr === (n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble)))
      assert(pr >= -1.0 - 1e-12 && pr <= 1.0 + 1e-12)
    }
    // price must strongly track quantity (unit prices are bounded)
    val pq = rows.find(r => r.getAs[String]("col_a") == "price_h" ||
      r.getAs[String]("col_b") == "price_h")
    assert(pq.nonEmpty)
  }

  test("charset profile: class counts replay exactly; shares consistent") {
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = docs.groupBy(_._1)
    val rows = CorpusOps.qSrcCharsetProfile(spark, sf).collect()
    assert(rows.map(_.getAs[String]("source")).toSet === bySrc.keySet)
    rows.foreach { r =>
      val texts = bySrc(r.getAs[String]("source")).map(_._2)
      def cc(p: Char => Boolean) = texts.map(_.count(p).toLong).sum
      assert(r.getAs[Long]("n_docs") === texts.size.toLong)
      assert(r.getAs[Long]("n_chars") === texts.map(_.length.toLong).sum)
      assert(r.getAs[Long]("n_digit") === cc(_.isDigit))
      assert(r.getAs[Long]("n_upper") === cc(c => c >= 'A' && c <= 'Z'))
      assert(r.getAs[Long]("n_space") === cc(_ == ' '))
      assert(r.getAs[Long]("n_symbol") ===
        cc(c => !(c.isDigit || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == ' ')))
      assert(r.getAs[Double]("digit_share") ===
        r.getAs[Long]("n_digit").toDouble / r.getAs[Long]("n_chars").toDouble)
    }
  }

  test("nDCG: integer-discount replay; bounded by 1; rank-sensitivity holds") {
    val embs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble)))
    val wTab = (1 to Similarity.evalK)
      .map(r => (Similarity.ndcgScale / (math.log(1.0 + r) / math.log(2.0))).toLong)
    val ideal = wTab.scanLeft(0L)(_ + _).tail
    val qs = embs.filter(_._1 % Similarity.evalQueryMod == 0)
    val cs = embs.filter(_._1 % Similarity.evalQueryMod != 0)
    val relByLabel = cs.groupBy(_._2).map { case (l, xs) => l -> xs.size.toLong }
    val perLabel = qs.groupBy(_._2).map { case (lbl, lqs) =>
      val dcgs = lqs.map { case (qid, _, qe) =>
        val top = cs.filter(_._1 != qid)
          .map { case (cid, cl, ce) => (cid, cl, localCosD(qe, ce)) }
          .sortBy { case (cid, _, cos) => (-cos, cid) }.take(Similarity.evalK)
        top.zipWithIndex.collect {
          case ((_, cl, _), i) if cl == lbl => wTab(i)
        }.sum
      }
      val idcg = ideal((relByLabel(lbl) min Similarity.evalK.toLong).toInt - 1)
      lbl -> (dcgs.length.toLong, dcgs.sum.toDouble / (dcgs.length * idcg).toDouble)
    }
    val rows = Similarity.qEmbNdcg(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("label")).toSet === perLabel.keySet)
    rows.foreach { r =>
      val (nq, nd) = perLabel(r.getAs[Int]("label"))
      assert(r.getAs[Long]("n_queries") === nq)
      val v = r.getAs[Double](s"ndcg_at_${Similarity.evalK}")
      assert(v === nd)
      assert(v >= 0.0 && v <= 1.0 + 1e-12)
    }
  }

  test("token PMI: quantized-log replay of the top collocations") {
    val texts = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val pairs = texts.flatMap { t =>
      val toks = t.split(" ", -1)
      for {
        i <- toks.indices
        d <- 1 to TextOps.pmiWindow
        if i + d < toks.length && toks(i) != toks(i + d)
      } yield {
        val (a, b) = (toks(i), toks(i + d))
        if (a < b) (a, b) else (b, a)
      }
    }
    val nPairs = pairs.length.toLong
    val cAb = pairs.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
      .filter(_._2 >= TextOps.pmiMinCount)
    val marg = texts.flatMap(_.split(" ", -1)).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    def qlog(v: Long): Long = math.floor(math.log(v.toDouble) * 1000000L).toLong
    val expected = cAb.toSeq.map { case ((a, b), c) =>
      (a, b, c, qlog(c) + qlog(nPairs) - qlog(marg(a)) - qlog(marg(b)))
    }.sortBy { case (a, b, _, pmi) => (-pmi, a, b) }.take(TextOps.pmiTopN)
    val rows = TextOps.qDocTokenPmi(spark, sf).collect()
      .map(r => (r.getAs[String]("ta"), r.getAs[String]("tb"),
        r.getAs[Long]("c_ab"), r.getAs[Long]("pmi_micro")))
    assert(rows.toSeq === expected)
  }

  test("k-center: greedy farthest-point replay; coverage radius certificate") {
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => math.floor(x.toDouble * Similarity.gramScale).toLong))
    def d2(a: scala.collection.Seq[Long], b: scala.collection.Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seed = embs.find(_._1 == 0L).get._2
    var minD = embs.map { case (id, q) => id -> d2(q, seed) }.toMap
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]((0, 0L, 0L))
    for (k <- 1 until Similarity.kcenterM) {
      val (nid, nd) = minD.toSeq.sortBy { case (id, dd) => (-dd, id) }.head
      picks += ((k, nid, nd))
      val nq = embs.find(_._1 == nid).get._2
      minD = minD.map { case (id, dd) =>
        id -> math.min(dd, d2(embs.find(_._1 == id).get._2, nq))
      }
    }
    val radius = minD.values.max
    val rows = Similarity.qEmbKcenter(spark, sf).collect()
      .map(r => (r.getAs[Int]("sel_order"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("d2_at_pick")))
    assert(rows.toSeq === picks.toSeq :+ ((Similarity.kcenterM, -1L, radius)))
    // certificate: the radius is no larger than any pick distance after it
    assert(picks.drop(1).map(_._3).forall(_ >= radius))
  }

  test("multi-probe LSH: probe-set replay; recall and candidates monotone in probes") {
    val rows = Similarity.qEmbLshMultiprobe(spark, sf).collect()
      .map(r => (r.getAs[Int]("n_probes"), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_overlap"), r.getAs[Double]("recall_at_k")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Similarity.multiprobeArms)
    // local replay of the probe machinery
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble))
    def dotp(a: scala.collection.Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val planes = (0 until Similarity.lshPlanes)
      .map(p => (0 until Similarity.embDim).map(i => Similarity.planeSign(p, i).toDouble))
    def bucket(e: scala.collection.Seq[Double]): Int =
      planes.zipWithIndex.map { case (pl, p) => if (dotp(e, pl) >= 0) 1 << p else 0 }.sum
    val cands = embs.filter(_._1 >= Similarity.nQueryVecs)
      .map { case (id, e) => (id, bucket(e)) }
    val counts = Similarity.multiprobeArms.map { t =>
      embs.filter(_._1 < Similarity.nQueryVecs).map { case (_, qe) =>
        val base = bucket(qe)
        val flips = planes.zipWithIndex
          .map { case (pl, p) => (math.abs(dotp(qe, pl)), p) }.sorted.take(2).map(_._2)
        val probes = if (t == 1) Set(base)
          else Set(base, base ^ (1 << flips(0)), base ^ (1 << flips(1)))
        cands.count(c => probes(c._2)).toLong
      }.sum
    }
    assert(rows.map(_._2).toSeq === counts, "candidate counts replay")
    assert(rows(1)._2 >= rows(0)._2 && rows(1)._3 >= rows(0)._3 &&
      rows(1)._4 >= rows(0)._4, "more probes never hurt")
  }

  test("waterfilling: exact conservation, caps respected, saturated prefix") {
    val rows = CorpusOps.qDocMixWaterfill(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("cap_tokens"),
        r.getAs[Long]("rnk"), r.getAs[Boolean]("saturated"),
        r.getAs[Long]("allocated"), r.getAs[Long]("budget_tokens")))
      .sortBy(_._3)
    val budget = rows.head._6
    assert(budget ===
      rows.map(_._2).sum * CorpusOps.wfBudgetNum / CorpusOps.wfBudgetDen)
    assert(rows.map(_._5).sum === budget, "allocation conserves the budget EXACTLY")
    rows.foreach { case (_, cap, _, satd, alloc, _) =>
      assert(alloc <= cap, "no source over-allocated")
      if (satd) assert(alloc === cap, "saturated sources contribute everything")
    }
    // saturated set is a prefix of the capacity-ascending order
    val flags = rows.map(_._4)
    assert(!flags.dropWhile(identity).contains(true), "saturation is a prefix")
    // max-min fairness: unsaturated allocations differ by at most one token
    val unsat = rows.filterNot(_._4).map(_._5)
    if (unsat.nonEmpty) assert(unsat.max - unsat.min <= 1L)
  }

  test("Hill estimator: quantized-log order-stat replay") {
    val lens = Tables.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, n) => (-n, id) }
    val top = lens.take(TextOps.hillK)
    val xmin = lens(TextOps.hillK)._2
    def qlog(v: Long): Long = math.floor(math.log(v.toDouble) * 1000000L).toLong
    val sumExcess = top.map { case (_, n) => qlog(n) - qlog(xmin) }.sum
    val row = TextOps.qDocTailHill(spark, sf).head
    assert(row.getAs[Long]("k") === TextOps.hillK.toLong)
    assert(row.getAs[Long]("x_min") === xmin)
    assert(row.getAs[Long]("sum_log_excess_micro") === sumExcess)
    val alpha = row.getAs[Double]("alpha_hill")
    assert(alpha === (TextOps.hillK.toLong * 1000000L).toDouble / sumExcess.toDouble)
    assert(alpha > 0.0)
    assert(row.getAs[Boolean]("heavy_tail") === (alpha < 2.0))
  }

  test("mutual NN: planted pairs lead the margin ranking; mutuality and margin hold") {
    val rows = Similarity.qEmbMutualNn(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cosine"), r.getAs[Long]("margin_q")))
    assert(rows.nonEmpty)
    // margins strictly ordered (modulo ties broken by ids)
    assert(rows.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    // every planted pair that appears must be (x, x+100000); the TOP entry
    // must be a planted pair (background cosine tops out ~0.5, planted ~0.9)
    val planted = rows.filter { case (a, b, _, _) => b == a + 100000 }
    assert(planted.nonEmpty, "no planted pair surfaced")
    planted.foreach { case (a, _, c, _) =>
      assert(a % 25 === 0L)
      assert(c > 0.8, "planted pairs carry near-dup cosine")
    }
    assert(rows.head._2 === rows.head._1 + 100000, "top match is a planted pair")
    // margin can never exceed cosine-floor distance bounds
    rows.foreach { case (_, _, c, mq) =>
      assert(mq <= ((c + 1.0) * Similarity.mutualCosScale).toLong + 1)
    }
  }

  test("bitemporal: T1 pre-correction, T2 post; restatement is exactly the injection") {
    val rows = graft.queries.Warehouse.qCustBitemporal(spark, sf).collect()
    val custs = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getDouble(2)))
    val byNation = custs.groupBy(_._2)
    assert(rows.map(_.getAs[Number]("c_nationkey").longValue).toSet === byNation.keySet)
    rows.foreach { r =>
      val ds = byNation(r.getAs[Number]("c_nationkey").longValue)
      val restated = ds.count(_._1 % 10 == 0).toLong
      def cents(x: Double) = new java.math.BigDecimal(x.toString)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).setScale(0, java.math.RoundingMode.FLOOR).longValueExact
      val t1 = ds.map(d => cents(d._3)).sum
      assert(r.getAs[Long]("n_customers") === ds.size.toLong)
      assert(r.getAs[Long]("n_restated") === restated)
      assert(r.getAs[Long]("total_t1_cents") === t1, "T1 reproduces the original report")
      assert(r.getAs[Long]("total_t2_cents") === t1 + restated * 10000L)
      assert(r.getAs[Long]("restated_cents") === restated * 10000L,
        "the knowledge-time delta is exactly the injected correction")
    }
  }

  test("revenue bridge: the three effects close the exact-cent delta") {
    val rows = graft.queries.Warehouse.qRevBridge(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (r1, r2) = (r.getAs[Long]("r1"), r.getAs[Long]("r2"))
      val (v1, v2) = (r.getAs[Long]("v1"), r.getAs[Long]("v2"))
      assert(r.getAs[Long]("delta_cents") === r2 - r1)
      if (v1 > 0 && v2 > 0) {
        val (p1, p2) = (r1.toDouble / v1, r2.toDouble / v2)
        assert(r.getAs[Double]("price_effect") === (p2 - p1) * v1.toDouble)
        assert(r.getAs[Double]("volume_effect") === p1 * (v2 - v1).toDouble)
        assert(r.getAs[Double]("joint_effect") === (p2 - p1) * (v2 - v1).toDouble)
        // the waterfall closes: effects sum to the delta (fp tolerance only)
        val closed = r.getAs[Double]("price_effect") +
          r.getAs[Double]("volume_effect") + r.getAs[Double]("joint_effect")
        assert(math.abs(closed - (r2 - r1).toDouble) <=
          math.max(1.0, math.abs(r2 - r1).toDouble * 1e-9))
      }
    }
  }

  test("cohort LTV: cumulative curve is monotone and conserves revenue") {
    val rows = graft.queries.Warehouse.qCohortLtv(spark, sf).collect()
      .map(r => (r.getAs[Long]("cohort_year"), r.getAs[Long]("age"),
        r.getAs[Long]("n_customers"), r.getAs[Long]("revenue_cents"),
        r.getAs[Double]("cum_ltv_usd")))
    assert(rows.nonEmpty)
    // exact conservation: Σ revenue over the grid = Σ order totals in cents
    val totalCents = Tables.orders(spark, sf).select("o_totalprice").collect()
      .map(r => new java.math.BigDecimal(r.getDouble(0).toString)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).setScale(0, java.math.RoundingMode.FLOOR).longValueExact)
      .sum
    assert(rows.map(_._4).sum === totalCents)
    // per cohort: ages contiguous from 0, LTV monotone nondecreasing
    rows.groupBy(_._1).foreach { case (_, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._2 === 0L, "every cohort starts at age 0")
      assert(sorted.map(_._5).sliding(2).forall(p => p.length < 2 || p(1) >= p(0)),
        "cumulative LTV never decreases")
      val (cohortYear, n) = (sorted.head._1, sorted.head._3)
      assert(n > 0)
      // replay the final cumulative value exactly
      assert(sorted.last._5 ===
        sorted.map(_._4).sum.toDouble / (n * 100L).toDouble)
      assert(cohortYear >= 1995L && cohortYear <= 2001L)
    }
  }

  test("q-digest: rank-error bound holds quantitatively under any merge split") {
    import graft.functions.QDigest
    val vals = Tables.events(spark, sf).select("value").collect()
      .map(r => math.floor(r.getDouble(0) * Sketches.qdScale).toLong)
    val sorted = vals.sorted
    val n = vals.length.toLong
    val agg = new QDigest(Sketches.qdBits, Sketches.qdK)
    // two different merge trees over the same data
    def build(chunks: Seq[Seq[Long]]): Map[Long, Long] = {
      val bufs = chunks.map { ch =>
        ch.foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
      }
      agg.finish(bufs.reduce(agg.merge))
    }
    val d1 = build(vals.grouped(1000).map(_.toSeq).toSeq)
    val d2 = build(vals.reverse.grouped(333).map(_.toSeq).toSeq)
    for (d <- Seq(d1, d2); p <- Sketches.qdPs) {
      assert(d.values.sum === n, "digest conserves total weight")
      val est = QDigest.quantile(d, Sketches.qdBits, p.toLong, 100L)
      val rank = sorted.count(_ <= est).toLong
      val err = math.abs(rank * 100L - p * n)
      assert(err * Sketches.qdK <= Sketches.qdBits.toLong * n * 100L,
        s"p=$p est=$est rank=$rank err=$err exceeds the log2(U)n/k bound")
    }
    // compression actually bounds the summary
    assert(d1.size <= 8 * Sketches.qdK.toInt, s"digest grew to ${d1.size} nodes")
    // the registry op's verdicts must all be green
    val rows = Sketches.qValueQdigest(spark, sf).collect()
    assert(rows.length === Sketches.qdPs.length)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("sketch_ok"))
      // exact arm replay: smallest grid value whose rank reaches ceil(p n / 100)
      val p = r.getAs[Int]("p")
      val target = (p * n + 99) / 100
      assert(r.getAs[Long]("exact_q") === sorted((target - 1).toInt))
      assert(r.getAs[Long]("n") === n)
    }
  }

  test("funnel time-to-convert: exact gap replay; quartiles are rank-correct") {
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.sql.Timestamp](2).getTime * 1000 +
          (r.getAs[java.sql.Timestamp](2).getNanos / 1000) % 1000))
    val gaps = evs.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val t1 = xs.filter(_._2 == "signup").map(_._3).sorted.headOption
      t1.flatMap { s =>
        val t3 = xs.filter(e => e._2 == "purchase" && e._3 > s).map(_._3)
          .sorted.headOption
        t3.map(p => (p - s) / 1000000L)
      }
    }
    val row = Analytics.qEventFunnelTime(spark, sf).head
    val n = gaps.size.toLong
    assert(row.getAs[Long]("n_converted") === n)
    assert(row.getAs[Double]("mean_gap_s") === gaps.sum.toDouble / n.toDouble)
    val mins = gaps.map(_ / 60L).sorted
    def q(pNum: Int): Long = mins(((n * pNum + 3) / 4 - 1).toInt)
    assert(row.getAs[Long]("p25_min") === q(1))
    assert(row.getAs[Long]("p50_min") === q(2))
    assert(row.getAs[Long]("p75_min") === q(3))
    assert(q(1) <= q(2) && q(2) <= q(3))
  }

  test("language diversity: exact Simpson replay; effective sources bounded") {
    val docs = Tables.documents(spark, sf).select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byLang = docs.groupBy(_._1)
    val rows = CorpusOps.qDocLangDiversity(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSet === byLang.keySet)
    rows.foreach { r =>
      val ds = byLang(r.getAs[String]("lang"))
      val cells = ds.groupBy(_._2).map(_._2.size.toLong)
      val n = ds.size.toLong
      val same = cells.map(c => c * (c - 1)).sum
      assert(r.getAs[Long]("n_docs") === n)
      assert(r.getAs[Long]("n_sources") === cells.size.toLong)
      assert(r.getAs[Long]("same_pairs") === same)
      if (n >= 2 && same > 0) {
        val eff = r.getAs[Double]("effective_sources")
        assert(eff === (n * (n - 1)).toDouble / same.toDouble)
        // effective count can never exceed the nominal source count... of
        // equal shares; it IS bounded by n(n-1)/max(0 pairs) — sanity only
        assert(eff >= 1.0)
      }
    }
  }

  test("score calibration: exact bin replay; planted high-cosine bins exist") {
    val embs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]]("embedding")))
    val qs = embs.filter(_._1 % Similarity.evalQueryMod == 0)
    val cs = embs.filter(_._1 % Similarity.evalQueryMod != 0)
    val half = Similarity.calibBins / 2
    val pairs = for {
      (qid, ql, qe) <- qs
      (cid, cl, ce) <- cs if cid != qid
    } yield {
      val bin = math.min(Similarity.calibBins - 1L,
        math.max(0L, math.floor((localCos(qe, ce) + 1.0) * half).toLong))
      (bin, if (cl == ql) 1L else 0L)
    }
    val expected = pairs.groupBy(_._1).map { case (b, xs) =>
      b -> (xs.size.toLong, xs.map(_._2).sum)
    }
    val rows = Similarity.qEmbScoreCalibration(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("bin")).toSet === expected.keySet)
    rows.foreach { r =>
      val (np, nm) = expected(r.getAs[Long]("bin"))
      assert(r.getAs[Long]("n_pairs") === np)
      assert(r.getAs[Long]("n_match") === nm)
      assert(r.getAs[Double]("precision") === nm.toDouble / np.toDouble)
      assert(r.getAs[Double]("cos_lo") ===
        r.getAs[Long]("bin").toDouble / half - 1.0)
    }
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === pairs.size.toLong,
      "bins partition every scored pair")
  }

  test("order backlog: exact delta replay; never negative; ends at open count") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val placed = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), day(r.getAs[java.sql.Timestamp](1))))
    val completed = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), day(r.getAs[java.sql.Timestamp](1))))
      .groupBy(_._1).map { case (ok, xs) => (ok, xs.map(_._2).max) }
    val placedByDay = placed.groupBy(_._2).map { case (d, xs) => d -> xs.size.toLong }
    val doneByDay = completed.groupBy(_._2).map { case (d, xs) => d -> xs.size.toLong }
    val rows = Analytics.qOrderBacklog(spark, sf).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_placed"),
        r.getAs[Long]("n_completed"), r.getAs[Long]("backlog")))
    assert(rows.map(_._1).toSet === placedByDay.keySet ++ doneByDay.keySet)
    var cum = 0L
    rows.sortBy(_._1).foreach { case (d, np, nc, b) =>
      assert(np === placedByDay.getOrElse(d, 0L))
      assert(nc === doneByDay.getOrElse(d, 0L))
      cum += np - nc
      assert(b === cum)
      assert(b >= 0L, "an order can never complete before it was placed")
    }
    assert(rows.map(_._4).last === placed.length.toLong - completed.size.toLong,
      "final backlog = orders that never fully shipped")
  }

  test("little's law: WIP area equals clipped per-order intervals; gap is the censoring share") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val placed = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), day(r.getAs[java.sql.Timestamp](1)))).toMap
    val done = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), day(r.getAs[java.sql.Timestamp](1))))
      .groupBy(_._1).map { case (ok, xs) => (ok, xs.map(_._2).max) }
    val allDays = placed.values ++ done.values
    val (dMin, dMax) = (allDays.min, allDays.max)
    val r = Analytics.qLittlesLaw(spark, sf).collect() match {
      case Array(only) => only
      case other       => fail(s"expected 1 row, got ${other.length}")
    }
    // area identity: Σ backlog·gap over the day series == Σ_orders of the
    // order's open interval clipped at the horizon end
    val areaDirect = placed.toSeq.map { case (ok, p) =>
      done.getOrElse(ok, dMax) - p
    }.sum
    assert(r.getAs[Long]("area") === areaDirect)
    assert(r.getAs[Long]("n_orders") === placed.size.toLong)
    assert(r.getAs[Long]("n_completed") === done.size.toLong)
    assert(r.getAs[Long]("horizon_days") === dMax - dMin)
    val leadSum = done.toSeq.map { case (ok, dd) => dd - placed(ok) }.sum
    assert(r.getAs[Long]("lead_sum") === leadSum)
    assert(r.getAs[Double]("wip_avg") === areaDirect.toDouble / (dMax - dMin))
    assert(r.getAs[Double]("wip_pred") === leadSum.toDouble / (dMax - dMin))
    // rel_gap is exactly the never-shipped share of the WIP area
    assert(r.getAs[Double]("rel_gap") ===
      (areaDirect - leadSum).toDouble / areaDirect.toDouble)
    assert(r.getAs[Double]("rel_gap") >= 0.0 && r.getAs[Double]("rel_gap") < 1.0)
  }

  test("discount elasticity: exact five-moment OLS replay per brand") {
    val brandOf = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pts = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_discount"), col("l_quantity")).collect()
      .map(r => (brandOf(r.getLong(0)),
        math.floor(r.getDouble(1) * 100 + 0.5).toLong,
        math.floor(r.getDouble(2) + 0.5).toLong))
    val expected = pts.groupBy(_._1).map { case (b, xs) =>
      val n = xs.length.toLong
      val sx = xs.map(_._2).sum; val sy = xs.map(_._3).sum
      val sxy = xs.map(p => p._2 * p._3).sum
      val sxx = xs.map(p => p._2 * p._2).sum
      val numer = n * sxy - sx * sy
      val denom = n * sxx - sx * sx
      b -> (n, sx, sy, numer.toDouble / denom.toDouble)
    }
    val got = graft.queries.Warehouse.qDiscountElasticity(spark, sf).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val (n, sx, sy, slope) = expected(r.getAs[String]("p_brand"))
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Double]("slope_qty_per_pt") === slope)
      assert(r.getAs[Double]("elasticity") === slope * (sx.toDouble / sy.toDouble))
      assert(r.getAs[Double]("mean_disc_pts") === sx.toDouble / n)
      assert(r.getAs[Double]("mean_qty") === sy.toDouble / n)
    }
  }

  test("AMS F2: estimate matches md5 sign replay exactly; within measured tolerance") {
    def h31(sv: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP
    }
    val freqs = Tables.orders(spark, sf)
      .select(col("o_custkey")).collect().map(_.getLong(0))
      .groupBy(identity).map { case (k, xs) => (k, xs.length.toLong) }
    val f2 = freqs.values.map(f => f * f).sum
    val estSum = (0 until Sketches.amsLanes).map { j =>
      val z = freqs.map { case (k, f) =>
        f * (1L - 2L * (h31(s"$k#$j") % 2))
      }.sum
      z * z
    }.sum
    val r = Sketches.qAmsF2(spark, sf).collect() match {
      case Array(only) => only
      case other       => fail(s"expected 1 row, got ${other.length}")
    }
    assert(r.getAs[Long]("f2_exact") === f2)
    assert(r.getAs[Long]("n_keys") === freqs.size.toLong)
    assert(r.getAs[Long]("est_sum") === estSum)
    val estMean = estSum.toDouble / Sketches.amsLanes
    assert(r.getAs[Double]("est_mean") === estMean)
    assert(r.getAs[Double]("rel_err") === math.abs(estMean - f2.toDouble) / f2.toDouble)
    // quantitative claim: 16 averaged pairwise-independent estimators land
    // within 75% relative error on this corpus (measured, deterministic)
    assert(r.getAs[Double]("rel_err") < 0.75,
      s"AMS estimate ${estMean} vs exact $f2")
  }

  private def lpReplay(): (Map[Long, Long], Array[(Long, Long)], Set[Long]) = {
    val off = Graph.supplierIdOffset
    val custNation = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val suppNation = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nodes = custNation.keySet ++ suppNation.keySet.map(_ + off)
    val fwd = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (c, s) => custNation(c) == suppNation(s) }
      .map { case (c, s) => (c, s + off) }
    val byDst = fwd.groupBy(_._2); val bySrc = fwd.groupBy(_._1)
    def vote(neigh: Seq[Long], cur: Map[Long, Long]): Long = {
      val votes = neigh.map(cur).groupBy(identity)
        .map { case (l, xs) => (l, xs.size.toLong) }
      votes.maxBy { case (l, c) => c * Graph.lpTieScale - l }._1
    }
    var labels: Map[Long, Long] = nodes.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      val afterSupp = labels.map { case (n, l) =>
        n -> byDst.get(n).map(es => vote(es.map(_._1), labels)).getOrElse(l)
      }
      labels = afterSupp.map { case (n, l) =>
        n -> bySrc.get(n).map(es => vote(es.map(_._2), afterSupp)).getOrElse(l)
      }
    }
    (labels, fwd, nodes)
  }

  test("label propagation: exact two-phase replay on the domestic graph; nations recovered") {
    val off = Graph.supplierIdOffset
    val (labels, _, nodes) = lpReplay()
    val sizes = labels.values.groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
    val rows = Graph.qGraphLabelprop(spark, sf).collect()
    assert(rows.length === nodes.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("node_id")
      assert(r.getAs[Long]("community") === labels(id))
      assert(r.getAs[Long]("comm_size") === sizes(labels(id)))
      assert(r.getAs[String]("kind") === (if (id >= off) "supplier" else "customer"))
    }
    // must coarsen into real blobs: strictly fewer communities than nodes
    assert(sizes.size < nodes.size)
  }

  test("modularity: exact integer form; positive Q on the nation-blob partition") {
    val (labels, fwd, _) = lpReplay()
    val m = fwd.length.toLong
    val eIn = fwd.filter { case (c, s) => labels(c) == labels(s) }
      .groupBy { case (c, _) => labels(c) }
      .map { case (l, xs) => l -> xs.length.toLong }
    val deg = (fwd.map(_._1) ++ fwd.map(_._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.length.toLong }
    val dMass = deg.toSeq.groupBy { case (n, _) => labels(n) }
      .map { case (l, xs) => l -> (xs.map(_._2).sum, xs.length.toLong) }
    val rows = Graph.qGraphModularity(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("community")).toSet === dMass.keySet)
    var runNum = 0L
    rows.foreach { r =>
      val c = r.getAs[Long]("community")
      val (dc, nn) = dMass(c)
      assert(r.getAs[Long]("n_nodes") === nn)
      assert(r.getAs[Long]("d_c") === dc)
      assert(r.getAs[Long]("e_in") === eIn.getOrElse(c, 0L))
      val qNum = 4L * m * eIn.getOrElse(c, 0L) - dc * dc
      assert(r.getAs[Long]("q_num") === qNum)
      assert(r.getAs[Double]("q_contrib") === qNum.toDouble / (4L * m * m).toDouble)
      runNum += qNum
      assert(r.getAs[Double]("q_running") === runNum.toDouble / (4L * m * m).toDouble)
    }
    // the domestic graph has genuine nation-blob structure: Q well above 0
    assert(rows.last.getAs[Double]("q_running") > 0.5)
  }

  test("FSM audit: lag replay; violation mass ties out; allowed set honored") {
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp"), col("event_id"),
        col("event_type")).collect()
      .map { r =>
        val t = r.getAs[java.sql.Timestamp](1)
        (r.getLong(0), t.getTime * 1000 + (t.getNanos / 1000) % 1000,
          r.getLong(2), r.getString(3))
      }
    val pairs = evs.groupBy(_._1).values.flatMap { xs =>
      val s = xs.sortBy(e => (e._2, e._3))
      s.zip(s.tail).map { case (a, b) => (a._4, b._4) }
    }.toSeq
    val counts = pairs.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val allowed = Analytics.fsmAllowed.toSet
    val nTot = pairs.size.toLong
    val nViol = counts.collect { case (p, n) if !allowed(p) => n }.sum
    val rows = Analytics.qEventFsmAudit(spark, sf).collect()
    assert(rows.map(r => (r.getAs[String]("prev_type"),
      r.getAs[String]("next_type"))).toSet === counts.keySet)
    rows.foreach { r =>
      val p = (r.getAs[String]("prev_type"), r.getAs[String]("next_type"))
      assert(r.getAs[Long]("n") === counts(p))
      assert(r.getAs[Boolean]("allowed") === allowed(p))
      assert(r.getAs[Double]("share") === counts(p).toDouble / nTot)
      assert(r.getAs[Double]("violation_share") === nViol.toDouble / nTot)
    }
    // random synthetic events MUST trip the FSM somewhere
    assert(nViol > 0L && nViol < nTot)
  }

  test("ABC migration: within-year classes replay; shares partition each from-class") {
    def yr(ts: java.sql.Timestamp): Long =
      ts.toLocalDateTime.atZone(java.time.ZoneOffset.UTC).getYear.toLong
    val cy = Tables.orders(spark, sf)
      .select(col("o_orderdate").cast("timestamp"), col("o_custkey"),
        col("o_totalprice")).collect()
      .map(r => ((yr(r.getAs[java.sql.Timestamp](0)), r.getLong(1)),
        math.floor(r.getDouble(2) * 100 + 0.5).toLong))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val classOf = cy.groupBy(_._1._1).flatMap { case (_, entries) =>
      val sorted = entries.toSeq.sortBy { case ((_, ck), rev) => (-rev, ck) }
      val tot = sorted.map(_._2).sum
      var cum = 0L
      sorted.map { case ((yk, ck), rev) =>
        cum += rev
        (yk, ck) -> (if (cum * 10 <= tot * 7) "A"
                     else if (cum * 10 <= tot * 9) "B" else "C")
      }
    }
    val expected = classOf.toSeq.flatMap { case ((y, ck), c) =>
      classOf.get((y + 1, ck)).map(c2 => (y, c, c2))
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val rows = graft.queries.Warehouse.qCustAbcMigration(spark, sf).collect()
    assert(rows.map(r => (r.getAs[Long]("year_from"), r.getAs[String]("from_class"),
      r.getAs[String]("to_class"))).toSet === expected.keySet)
    rows.foreach { r =>
      val k = (r.getAs[Long]("year_from"), r.getAs[String]("from_class"),
        r.getAs[String]("to_class"))
      assert(r.getAs[Long]("n_customers") === expected(k))
    }
    // shares partition: sum to 1 within each (year_from, from_class)
    rows.groupBy(r => (r.getAs[Long]("year_from"), r.getAs[String]("from_class")))
      .values.foreach { g =>
        assert(math.abs(g.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
      }
  }

  test("split coverage: trigram-set replay under the shipped split rule") {
    import java.security.MessageDigest
    def h31(sv: String): Long = {
      val md = MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP
    }
    def rawHash(sv: String): Long = {
      val md = MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    // the split rule buckets on the RAW portable hash (no 31-bit fold)
    def bucket(text: String): Long = rawHash(text + "|split") % 100
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(text: String): Set[Long] = {
      val tk = text.split(" ")
      (0 to tk.length - 3).map(i => h31(s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}")).toSet
    }
    val train = docs.filter(d => bucket(d._3) < 80)
    val vals = docs.filter(d => { val b = bucket(d._3); b >= 80 && b < 90 })
    val trainSet = train.flatMap(d => grams(d._3)).toSet
    val rows = CorpusOps.qDocSplitCoverage(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSet === vals.map(_._2).toSet)
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val mine = vals.filter(_._2 == lang)
      val pairs = mine.map(d => grams(d._3).size.toLong).sum
      val covered = mine.map(d => grams(d._3).count(trainSet).toLong).sum
      assert(r.getAs[Long]("n_val_docs") === mine.length.toLong)
      assert(r.getAs[Long]("n_pairs") === pairs)
      assert(r.getAs[Long]("n_covered") === covered)
      assert(r.getAs[Double]("coverage") === covered.toDouble / pairs)
    }
  }

  test("open aging: open set ties out to backlog's final count; ages exact") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val placed = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), r.getString(1), day(r.getAs[java.sql.Timestamp](2))))
    val done = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), day(r.getAs[java.sql.Timestamp](1))))
      .groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).max) }
    val dMax = (placed.map(_._3) ++ done.values).max
    val open = placed.filterNot(p => done.contains(p._1))
    val rows = Analytics.qOrderOpenAging(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_open")).sum ===
      Analytics.qOrderBacklog(spark, sf).collect().last.getAs[Long]("backlog"),
      "open orders at horizon end = final backlog")
    rows.foreach { r =>
      val mine = open.filter(_._2 == r.getAs[String]("prio"))
      val ages = mine.map(o => dMax - o._3)
      assert(r.getAs[Long]("n_open") === mine.length.toLong)
      assert(r.getAs[Double]("mean_age_days") === ages.sum.toDouble / ages.length)
      assert(r.getAs[Long]("max_age_days") === ages.max)
      assert(r.getAs[Double]("share_over_year") ===
        ages.count(_ > 365).toDouble / ages.length)
    }
  }

  test("brand return rate: exact counts; Wilson intervals bracket the point rate") {
    val brandOf = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val lines = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_returnflag")).collect()
      .map(r => (brandOf(r.getLong(0)), r.getString(1) == "R"))
    val gk = lines.count(_._2).toLong
    val rows = graft.queries.Warehouse.qBrandReturnRate(spark, sf).collect()
    assert(rows.map(_.getAs[String]("p_brand")).toSet === lines.map(_._1).toSet)
    rows.foreach { r =>
      val mine = lines.filter(_._1 == r.getAs[String]("p_brand"))
      val k = mine.count(_._2).toLong
      assert(r.getAs[Long]("n_lines") === mine.length.toLong)
      assert(r.getAs[Long]("n_returned") === k)
      val p = k.toDouble / mine.length
      assert(r.getAs[Double]("return_rate") === p)
      val (lo, hi) = (r.getAs[Double]("wilson_lo"), r.getAs[Double]("wilson_hi"))
      assert(lo <= p && p <= hi, "interval brackets the point estimate")
      assert(lo >= -1e-9 && hi <= 1.0 + 1e-9)
      assert(r.getAs[Double]("global_rate") === gk.toDouble / lines.length)
      assert(r.getAs[Boolean]("worse_ci") === (gk.toDouble / lines.length < lo))
    }
  }

  test("trade balance: flow conservation; exports mirror imports globally") {
    val rows = graft.queries.Warehouse.qNationTradeBalance(spark, sf).collect()
    assert(rows.length === 25)
    // every export is someone's import: global balance is exactly zero
    assert(rows.map(_.getAs[Long]("balance_bp")).sum === 0L)
    assert(rows.map(_.getAs[Long]("export_bp")).sum ===
      rows.map(_.getAs[Long]("import_bp")).sum)
    // cross-check total revenue against an independent decimal aggregate
    val totalBp = Tables.lineitem(spark, sf)
      .select((col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
        .as("rev"))
      .agg((sum(col("rev")) * 10000).cast("long")).head.getLong(0)
    assert(rows.map(r => r.getAs[Long]("domestic_bp") + r.getAs[Long]("export_bp")).sum
      === totalBp, "supplier-side flows partition total revenue")
    rows.foreach { r =>
      assert(r.getAs[Long]("balance_bp") ===
        r.getAs[Long]("export_bp") - r.getAs[Long]("import_bp"))
      val share = r.getAs[Double]("export_share")
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("lexicon screen: exact token-grain hit replay per source") {
    val lex = TextOps.screenLexicon.toSet
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ")))
    val rows = TextOps.qDocLexiconScreen(spark, sf).collect()
    assert(rows.map(_.getAs[String]("source")).toSet === docs.map(_._1).toSet)
    rows.foreach { r =>
      val mine = docs.filter(_._1 == r.getAs[String]("source"))
      val hits = mine.map(_._2.count(lex).toLong)
      val toks = mine.map(_._2.length.toLong).sum
      assert(r.getAs[Long]("n_docs") === mine.length.toLong)
      assert(r.getAs[Long]("n_flagged") === hits.count(_ > 0).toLong)
      assert(r.getAs[Long]("total_hits") === hits.sum)
      assert(r.getAs[Double]("flag_rate") ===
        hits.count(_ > 0).toDouble / mine.length)
      assert(r.getAs[Double]("hits_per_10k_tokens") ===
        (hits.sum * 10000L).toDouble / toks)
    }
  }

  test("norm QC: quantized mean replay; unit-normalized corpus flags nothing") {
    val norms = Tables.embeddings(spark, sf)
      .select(col("embedding")).collect()
      .map { r =>
        val e = r.getSeq[Float](0).map(_.toDouble)
        math.sqrt(e.foldLeft(0.0)((acc, x) => acc + x * x))
      }
    val r = Similarity.qEmbNormQc(spark, sf).collect() match {
      case Array(only) => only
      case other       => fail(s"expected 1 row, got ${other.length}")
    }
    assert(r.getAs[Long]("n_vecs") === norms.length.toLong)
    assert(r.getAs[Double]("min_norm") === norms.min)
    assert(r.getAs[Double]("max_norm") === norms.max)
    val qSum = norms.map(n => math.floor(n * Similarity.normScale).toLong).sum
    assert(r.getAs[Double]("mean_norm") ===
      qSum.toDouble / (norms.length.toLong * Similarity.normScale).toDouble)
    // shipped corpus is unit-normalized: the healthy band flags nothing
    assert(r.getAs[Long]("n_low") === 0L && r.getAs[Long]("n_high") === 0L)
    assert(r.getAs[Double]("flag_rate") === 0.0)
  }

  test("SLA curve: per-priority attainment replay; monotone in threshold") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val placed = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), r.getString(1), day(r.getAs[java.sql.Timestamp](2))))
    val done = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), day(r.getAs[java.sql.Timestamp](1))))
      .groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).max) }
    val leads = placed.flatMap { case (ok, p, d) => done.get(ok).map(dd => (p, dd - d)) }
    val rows = Analytics.qOrderSlaCurve(spark, sf).collect()
    assert(rows.length === leads.map(_._1).distinct.length * Analytics.slaDays.length)
    rows.foreach { r =>
      val mine = leads.filter(_._1 == r.getAs[String]("prio"))
      val within = mine.count(_._2 <= r.getAs[Long]("sla_days")).toLong
      assert(r.getAs[Long]("n_completed") === mine.length.toLong)
      assert(r.getAs[Long]("n_within") === within)
      assert(r.getAs[Double]("attainment") === within.toDouble / mine.length)
    }
    // attainment is a CDF: monotone nondecreasing in the threshold
    rows.groupBy(_.getAs[String]("prio")).values.foreach { g =>
      val att = g.sortBy(_.getAs[Long]("sla_days")).map(_.getAs[Double]("attainment"))
      assert(att.zip(att.tail).forall { case (x, y) => x <= y })
    }
  }

  test("mean excess: exact cent replay; bounded support caps the curve") {
    val cents = Tables.events(spark, sf).select(col("value")).collect()
      .map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong)
    val rows = Analytics.qValueMeanExcess(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("u_cents")).toSeq === Analytics.mexThresholds)
    rows.foreach { r =>
      val u = r.getAs[Long]("u_cents")
      val exceed = cents.filter(_ > u)
      assert(r.getAs[Long]("n_exceed") === exceed.length.toLong)
      assert(r.getAs[Long]("excess_sum_c") === exceed.map(_ - u).sum)
      assert(r.getAs[Double]("exceed_rate") === exceed.length.toDouble / cents.length)
      val expectedMex =
        if (exceed.nonEmpty)
          exceed.map(_ - u).sum.toDouble / (exceed.length.toLong * 100L).toDouble
        else 0.0
      assert(r.getAs[Double]("mean_excess") === expectedMex)
    }
  }

  test("silhouette: per-vector score replay off the 2-probe assignment") {
    val pair = Similarity.qEmbSilhouette(spark, sf).collect()
    val total = pair.map(_.getAs[Long]("n_members")).sum
    val nVecs = Tables.embeddings(spark, sf).count()
    // every vector scored exactly once; cells partition the corpus
    assert(total === nVecs)
    pair.foreach { r =>
      val n = r.getAs[Long]("n_members")
      val sSum = r.getAs[Long]("s_sum")
      assert(r.getAs[Double]("mean_silhouette") ===
        sSum.toDouble / (n * Similarity.silScale).toDouble)
      // simplified silhouette is bounded in [0, 1] by construction
      // (a <= b after the 2-probe sort), so the quantized mean is too
      assert(sSum >= 0L && sSum <= n * Similarity.silScale)
    }
  }

  test("split leakage: naive fold replay on verified pairs; leak share positive") {
    import java.security.MessageDigest
    def rawHash(sv: String): Long = {
      val md = MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    def fold(text: String): String = {
      val b = rawHash(text + "|split") % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val corpusText = docs ++ docs.collect { case (id, t) if id % 25 == 0 =>
      (id + 100000) -> (t + " near duplicate suffix")
    }
    val pairs = Dedup.qDocMinhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val marked = pairs.map { case (a, b) => (fold(corpusText(a)), fold(corpusText(b))) }
    val nCross = marked.count { case (a, b) => a != b }.toLong
    val rows = Dedup.qDocSplitLeakage(spark, sf).collect()
    val expected = marked.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    assert(rows.map(r => (r.getAs[String]("fold_a"), r.getAs[String]("fold_b"))).toSet
      === expected.keySet)
    rows.foreach { r =>
      val k = (r.getAs[String]("fold_a"), r.getAs[String]("fold_b"))
      assert(r.getAs[Long]("n_pairs") === expected(k))
      assert(r.getAs[Boolean]("crosses") === (k._1 != k._2))
      assert(r.getAs[Double]("leak_share") === nCross.toDouble / marked.length)
    }
    // the naive split must actually leak on this fixture — that's the point
    assert(nCross > 0L)
  }

  test("reorder cadence: lag-gap moment replay per segment") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val seg = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val gaps = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), r.getLong(1), day(r.getAs[java.sql.Timestamp](2))))
      .groupBy(_._1).toSeq.flatMap { case (ck, xs) =>
        val s = xs.sortBy(x => (x._3, x._2))
        s.zip(s.tail).map { case (a, b) => (seg(ck), ck, b._3 - a._3) }
      }
    val expected = gaps.groupBy(_._1).map { case (m, xs) =>
      val n = xs.length.toLong
      val sg = xs.map(_._3).sum; val sgg = xs.map(x => x._3 * x._3).sum
      m -> (xs.map(_._2).distinct.length.toLong, n, sg, sgg)
    }
    val rows = graft.queries.Warehouse.qCustCadence(spark, sf).collect()
    assert(rows.map(_.getAs[String]("c_mktsegment")).toSet === expected.keySet)
    rows.foreach { r =>
      val (nc, n, sg, sgg) = expected(r.getAs[String]("c_mktsegment"))
      assert(r.getAs[Long]("n_repeat_cust") === nc)
      assert(r.getAs[Long]("n_gaps") === n)
      assert(r.getAs[Double]("mean_gap_days") === sg.toDouble / n)
      assert(r.getAs[Double]("dispersion") ===
        (n * sgg - sg * sg).toDouble / (n * sg).toDouble)
    }
  }

  test("binary hamming: sign-word packing replay; recall vs exact cosine ties out") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def words(e: Array[Float]): (Long, Long) = {
      var w0 = 0L; var w1 = 0L
      (0 until 32).foreach { i => if (e(i) > 0) w0 |= (1L << i) }
      (32 until 64).foreach { i => if (e(i) > 0) w1 |= (1L << (i - 32)) }
      (w0, w1)
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val k = Similarity.topK
    val queries = embs.filter(_._1 < Similarity.nQueryVecs)
    val cands = embs.filter(_._1 >= Similarity.nQueryVecs)
    val rows = Similarity.qEmbBinaryHamming(spark, sf).collect()
    assert(rows.length === queries.length)
    rows.foreach { r =>
      val qid = r.getAs[Long]("q_id")
      val qe = queries.find(_._1 == qid).get._2
      val (qw0, qw1) = words(qe)
      val hams = cands.map { case (cid, ce) =>
        val (w0, w1) = words(ce)
        (cid, java.lang.Long.bitCount(qw0 ^ w0) + java.lang.Long.bitCount(qw1 ^ w1))
      }
      val hTop = hams.sortBy { case (cid, h) => (h, cid) }.take(k).map(_._1).toSet
      val cTop = cands.map { case (cid, ce) => (cid, cos(qe, ce)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k).map(_._1).toSet
      assert(r.getAs[Long]("k") === k.toLong)
      assert(r.getAs[Long]("best_hamming") ===
        hams.map(_._2).min.toLong)
      assert(r.getAs[Long]("n_overlap") === hTop.intersect(cTop).size.toLong)
      assert(r.getAs[Double]("recall_at_k") ===
        hTop.intersect(cTop).size.toDouble / k)
    }
  }

  test("conductance: exact cut/volume replay; nation blobs leak zero") {
    val (labels, fwd, _) = lpReplay()
    val m = fwd.length.toLong
    val deg = (fwd.map(_._1) ++ fwd.map(_._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.length.toLong }
    val vol = deg.toSeq.groupBy { case (n, _) => labels(n) }
      .map { case (l, xs) => l -> xs.map(_._2).sum }
    val cut = fwd.filter { case (c, s) => labels(c) != labels(s) }
      .flatMap { case (c, s) => Seq(labels(c), labels(s)) }
      .groupBy(identity).map { case (l, xs) => l -> xs.length.toLong }
    val rows = Graph.qGraphConductance(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("community")).toSet === vol.keySet)
    rows.foreach { r =>
      val c = r.getAs[Long]("community")
      assert(r.getAs[Long]("vol") === vol(c))
      assert(r.getAs[Long]("cut") === cut.getOrElse(c, 0L))
      val minVol = math.min(vol(c), 2 * m - vol(c))
      val phi = if (minVol > 0) cut.getOrElse(c, 0L).toDouble / minVol else 0.0
      assert(r.getAs[Double]("phi") === phi)
      assert(phi >= 0.0 && phi <= 1.0 + 1e-9)
    }
    // the nation blobs are disconnected components: zero leak everywhere
    assert(rows.filter(_.getAs[Long]("n_nodes") > 1)
      .forall(_.getAs[Double]("phi") === 0.0))
  }

  test("price index: Jevons terms and UVI replay; base year is the identity") {
    def yr(ts: java.sql.Timestamp): Long =
      ts.toLocalDateTime.atZone(java.time.ZoneOffset.UTC).getYear.toLong
    val li = Tables.lineitem(spark, sf)
      .select(col("l_shipdate").cast("timestamp"), col("l_partkey"),
        col("l_extendedprice"), col("l_quantity")).collect()
      .map(r => (yr(r.getAs[java.sql.Timestamp](0)), r.getLong(1),
        math.floor(r.getDouble(2) * 100 + 0.5).toLong,
        math.floor(r.getDouble(3) + 0.5).toLong))
    val yp = li.groupBy(x => (x._1, x._2)).map { case ((y, pk), xs) =>
      (y, pk) -> (xs.map(_._3).sum, xs.map(_._4).sum)
    }
    val baseYr = yp.keys.map(_._1).min
    val base = yp.collect { case ((y, pk), rq) if y == baseYr => pk -> rq }.toMap
    val ws = graft.Exact.logScale
    def wq(x: Long): Long = math.floor(math.log(x.toDouble) * ws).toLong
    val rows = graft.queries.Warehouse.qPriceIndex(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("yr")).toSeq === yp.keys.map(_._1).toSeq.distinct.sorted)
    rows.foreach { r =>
      val y = r.getAs[Long]("yr")
      val matched = yp.collect {
        case ((yy, pk), (rc, q)) if yy == y && base.contains(pk) =>
          val (r0, q0) = base(pk)
          wq(rc * q0) - wq(r0 * q)
      }
      assert(r.getAs[Long]("n_matched") === matched.size.toLong)
      assert(r.getAs[Long]("jevons_log_q") === matched.sum)
      val (rt, qt) = (r.getAs[Long]("r_tot_c"), r.getAs[Long]("q_tot"))
      val myTot = yp.collect { case ((yy, _), rq) if yy == y => rq }
      assert(rt === myTot.map(_._1).sum && qt === myTot.map(_._2).sum)
    }
    val baseRow = rows.find(_.getAs[Long]("yr") === baseYr).get
    // base year vs itself: every Jevons term is ln(1) → 0, UVI exactly 1
    assert(baseRow.getAs[Long]("jevons_log_q") === 0L)
    assert(baseRow.getAs[Double]("uvi") === 1.0)
  }

  test("lang confusion: counts tie out to the per-doc classifier; F1 in integer form") {
    val perDoc = TextOps.qDocLangQuality(spark, sf)
      .select(col("lang"), col("lang_pred")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val langs = perDoc.map(_._1).distinct.sorted
    val rows = TextOps.qDocLangConfusion(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSeq === langs.toSeq)
    var totTp = 0L
    rows.foreach { r =>
      val l = r.getAs[String]("lang")
      val tp = perDoc.count(d => d._1 == l && d._2 == l).toLong
      val fp = perDoc.count(d => d._1 != l && d._2 == l).toLong
      val n = perDoc.count(_._1 == l).toLong
      assert(r.getAs[Long]("tp") === tp)
      assert(r.getAs[Long]("fp") === fp)
      assert(r.getAs[Long]("fn") === n - tp)
      val prec = if (tp + fp > 0) tp.toDouble / (tp + fp) else 0.0
      assert(r.getAs[Double]("precision") === prec)
      assert(r.getAs[Double]("recall") === tp.toDouble / n)
      assert(r.getAs[Double]("f1") === (2 * tp).toDouble / (2 * tp + fp + (n - tp)))
      totTp += tp
    }
    // micro-accuracy ties out to the classifier's own match flags
    assert(totTp === perDoc.count(d => d._1 == d._2).toLong)
  }

  test("quantile bridge: exact percentile_disc per period; median shift consistent") {
    def day(ts: java.sql.Timestamp): Long = ts.getTime
    val boundary = java.sql.Timestamp.valueOf("2024-01-16 00:00:00").getTime
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), col("ts").cast("timestamp"), col("value")).collect()
      .map(r => (r.getString(0),
        if (r.getAs[java.sql.Timestamp](1).getTime < boundary) 0L else 1L,
        math.floor(r.getDouble(2) * 100 + 0.5).toLong))
    def quant(xs: Seq[Long], p: Long): Long = {
      val s = xs.sorted; val n = s.length.toLong
      val rank = (p * n + 99) / 100 // ceil(p*n/100)
      s((rank - 1).toInt.max(0))
    }
    val rows = Analytics.qEventQuantileBridge(spark, sf).collect()
    assert(rows.length === 5 * Analytics.qbPs.length)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type"); val p = r.getAs[Long]("p")
      val base = evs.filter(e => e._1 == t && e._2 == 0L).map(_._3).toSeq
      val cur = evs.filter(e => e._1 == t && e._2 == 1L).map(_._3).toSeq
      assert(r.getAs[Long]("base_q_c") === quant(base, p))
      assert(r.getAs[Long]("cur_q_c") === quant(cur, p))
      assert(r.getAs[Long]("shift_c") === quant(cur, p) - quant(base, p))
      assert(r.getAs[Double]("shift_rel") ===
        (quant(cur, p) - quant(base, p)).toDouble / quant(base, p))
    }
    // quantiles are monotone in p within each (type, period)
    rows.groupBy(_.getAs[String]("event_type")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("p"))
      assert(sorted.map(_.getAs[Long]("base_q_c")).toSeq ===
        sorted.map(_.getAs[Long]("base_q_c")).toSeq.sorted)
    }
  }

  test("little's law by class: per-class area identity at the global horizon") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val placed = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), r.getString(1), day(r.getAs[java.sql.Timestamp](2))))
    val done = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), day(r.getAs[java.sql.Timestamp](1))))
      .groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).max) }
    val allDays = placed.map(_._3) ++ done.values
    val (dMin, dMax) = (allDays.min, allDays.max)
    val rows = Analytics.qLittlesByClass(spark, sf).collect()
    val classes = placed.map(_._2).distinct.sorted
    assert(rows.map(_.getAs[String]("prio")).toSeq === classes.toSeq)
    rows.foreach { r =>
      val prio = r.getAs[String]("prio")
      val mine = placed.filter(_._2 == prio)
      val areaDirect = mine.map { case (ok, _, p) => done.getOrElse(ok, dMax) - p }.sum
      val leadSum = mine.flatMap { case (ok, _, p) => done.get(ok).map(_ - p) }.sum
      assert(r.getAs[Long]("n_orders") === mine.length.toLong)
      assert(r.getAs[Long]("n_completed") === mine.count(m => done.contains(m._1)).toLong)
      assert(r.getAs[Long]("horizon_days") === dMax - dMin)
      assert(r.getAs[Long]("area") === areaDirect,
        s"per-class WIP area identity for $prio")
      assert(r.getAs[Long]("lead_sum") === leadSum)
      assert(r.getAs[Double]("wip_avg") === areaDirect.toDouble / (dMax - dMin))
    }
    // classes partition the global audit: areas sum to the global area
    val globalArea = Analytics.qLittlesLaw(spark, sf).head.getAs[Long]("area")
    assert(rows.map(_.getAs[Long]("area")).sum === globalArea)
  }

  test("event precedence: exists-quantifier collapse equals brute-force pair scan") {
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts").cast("timestamp")).collect()
      .map { r =>
        val t = r.getAs[java.sql.Timestamp](2)
        (r.getLong(0), r.getString(1), t.getTime * 1000 + (t.getNanos / 1000) % 1000)
      }
    val byUser = evs.groupBy(_._1)
    val types = evs.map(_._2).distinct.sorted
    val brute = (for {
      a <- types; b <- types if a != b
    } yield {
      val sup = byUser.count { case (_, xs) =>
        val as = xs.filter(_._2 == a); val bs = xs.filter(_._2 == b)
        as.nonEmpty && bs.nonEmpty && as.map(_._3).min < bs.map(_._3).max
      }.toLong
      (a, b) -> sup
    }).toMap
    val nUsers = byUser.size.toLong
    val typeUsers = types.map(t => t -> byUser.count(_._2.exists(_._2 == t)).toLong).toMap
    val rows = Analytics.qEventPrecedence(spark, sf).collect()
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      assert(r.getAs[Long]("support") === brute((a, b)))
      assert(r.getAs[Long]("n_a") === typeUsers(a))
      assert(r.getAs[Long]("n_b") === typeUsers(b))
      assert(r.getAs[Double]("lift") ===
        (brute((a, b)) * nUsers).toDouble / (typeUsers(a) * typeUsers(b)).toDouble)
    }
    // every pair with support present; zero-support pairs absent by join
    assert(rows.length === brute.count(_._2 > 0))
  }

  test("WOE/IV: quantized-ln replay; IV accumulates in bin order") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_discount"), col("l_returnflag")).collect()
      .map(r => (math.floor(r.getDouble(0) * 100 + 0.5).toLong, r.getString(1) == "R"))
    val perBin = li.groupBy(_._1).map { case (b, xs) =>
      b -> (xs.count(_._2).toLong, xs.count(!_._2).toLong)
    }.filter { case (_, (r, k)) => r > 0 && k > 0 }
    val totR = perBin.values.map(_._1).sum
    val totK = perBin.values.map(_._2).sum
    def wq(x: Long): Long =
      math.floor(math.log(x.toDouble) * graft.Exact.logScale).toLong
    val rows = graft.queries.Warehouse.qLineWoe(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("bin")).toSeq === perBin.keys.toSeq.sorted)
    var run = 0.0
    rows.foreach { r =>
      val (nr, nk) = perBin(r.getAs[Long]("bin"))
      assert(r.getAs[Long]("n_ret") === nr)
      assert(r.getAs[Long]("n_kept") === nk)
      val q = wq(nr) + wq(totK) - wq(nk) - wq(totR)
      assert(r.getAs[Long]("woe_q") === q)
      val woe = q.toDouble / graft.Exact.logScale
      assert(r.getAs[Double]("woe") === woe)
      val iv = (nr.toDouble / totR - nk.toDouble / totK) * woe
      assert(r.getAs[Double]("iv_term") === iv)
      run += iv
      assert(r.getAs[Double]("iv_running") === run)
    }
  }

  test("shard rebalance: ring moves ~1/(N+1), mod moves ~N/(N+1); ring replay exact") {
    def h31(sv: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP
    }
    val keys = Tables.documents(spark, sf).select(col("doc_id")).collect()
      .map(r => h31(r.getLong(0).toString)).distinct
    val V = graft.etl.Layout.shardVnodes
    def ringShard(n: Int): Long => Long = {
      val vnodes = for { s <- 0 until n; v <- 0 until V }
        yield (h31(s"shard#$s#$v"), (s * V + v).toLong)
      pos => {
        val keyed = vnodes.map { case (p, idx) =>
          (p * graft.etl.Layout.ringTieScale + idx, p) }
        val succ = keyed.filter(_._2 >= pos)
        val chosen = if (succ.nonEmpty) succ.map(_._1).min else keyed.map(_._1).min
        (chosen % graft.etl.Layout.ringTieScale) / V
      }
    }
    val n = graft.etl.Layout.shardN
    val before = ringShard(n); val after = ringShard(n + 1)
    val ringMoved = keys.count(k => before(k) != after(k)).toLong
    val modMoved = keys.count(k => k % n != k % (n + 1)).toLong
    val rows = graft.etl.Layout.qShardRebalance(spark, sf).collect()
      .map(r => r.getAs[String]("scheme") ->
        (r.getAs[Long]("n_keys"), r.getAs[Long]("moved"), r.getAs[Double]("moved_frac")))
      .toMap
    assert(rows("mod")._1 === keys.length.toLong)
    assert(rows("mod")._2 === modMoved)
    assert(rows("ring")._2 === ringMoved)
    // the whole point: consistent hashing moves an order of magnitude less
    assert(rows("ring")._3 < 0.25 && rows("mod")._3 > 0.7)
    assert(rows("ring")._3 === ringMoved.toDouble / keys.length)
  }

  test("RAKE: per-word deg/freq replay; phrase score is the exact quantized word sum") {
    val stop = TextOps.stopwords.toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase))
    // segment: stopword-delimited runs, capped at rakeMaxLen
    val phrases = docs.flatMap { case (_, text) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      text.split(" ", -1).foreach { t =>
        if (stop(t)) { if (cur.nonEmpty) runs += cur.reverse; cur = Nil }
        else if (t.nonEmpty) cur = t :: cur
      }
      if (cur.nonEmpty) runs += cur.reverse
      runs.filter(_.length <= TextOps.rakeMaxLen)
    }
    val freq = phrases.flatten.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val deg = phrases.flatMap(p => p.map(w => (w, p.length.toLong)))
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).sum }
    def wsQ(w: String): Long = deg(w) * TextOps.rakeScale / freq(w)
    val scoreOf = phrases.map(p => p.mkString(" ") -> p.map(wsQ).sum).toMap
    val freqOf = phrases.map(_.mkString(" ")).groupBy(identity)
      .map { case (p, xs) => p -> xs.length.toLong }
    val expectedTop = scoreOf.toSeq.sortBy { case (p, s) => (-s, p) }
      .take(TextOps.rakeTopK)
    val rows = TextOps.qDocRake(spark, sf).collect()
    assert(rows.length === expectedTop.length)
    rows.zip(expectedTop).foreach { case (r, (p, s)) =>
      assert(r.getAs[String]("phrase") === p)
      assert(r.getAs[Long]("score_q") === s)
      assert(r.getAs[Long]("phrase_freq") === freqOf(p))
      assert(r.getAs[Long]("n_words") === p.split(" ").length.toLong)
    }
  }

  test("Fellegi-Sunter: smoothed m/u replay; mutated-char agreement weighs against match") {
    val rows = graft.queries.Warehouse.qCustFsWeights(spark, sf).collect()
    assert(rows.map(_.getAs[String]("feature")).toSeq ===
      Seq("char3", "edits", "len", "prefix2"))
    val ws = graft.Exact.logScale
    rows.foreach { r =>
      val (nm, nu) = (r.getAs[Long]("n_m"), r.getAs[Long]("n_u"))
      val (am, au) = (r.getAs[Long]("agree_m"), r.getAs[Long]("agree_u"))
      assert(am <= nm && au <= nu && nm > 0 && nu > 0,
        "both classes must be populated — blocking must admit non-matches")
      assert(r.getAs[Double]("m_prob") === (am * 2 + 1).toDouble / (nm * 2 + 2))
      assert(r.getAs[Double]("u_prob") === (au * 2 + 1).toDouble / (nu * 2 + 2))
      def q(x: Long): Long = math.floor(math.log(x.toDouble) * ws).toLong
      assert(r.getAs[Long]("weight_q") ===
        q(am * 2 + 1) + q(nu * 2 + 2) - q(au * 2 + 1) - q(nm * 2 + 2))
    }
    val byFeat = rows.map(r => r.getAs[String]("feature") -> r).toMap
    // the injected twin mutates char 3: agreement there is evidence AGAINST
    // a match, and by far the strongest signal of the four comparators
    assert(byFeat("char3").getAs[Double]("weight") < -1.0)
    assert(rows.map(_.getAs[Double]("weight")).min ===
      byFeat("char3").getAs[Double]("weight"))
  }

  test("Neyman allocation: exact moment replay; allocations sum within rounding of budget") {
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong))
    val moments = evs.groupBy(_._1).map { case (t, xs) =>
      val n = xs.length.toLong
      val sx = xs.map(_._2).sum; val sxx = xs.map(x => x._2 * x._2).sum
      t -> (n, math.floor(math.sqrt((n * sxx - sx * sx).toDouble)).toLong)
    }
    val wTot = moments.values.map(_._2).sum
    val nTot = moments.values.map(_._1).sum
    val B = Analytics.neymanBudget
    val rows = Analytics.qEventNeyman(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === moments.keySet)
    rows.foreach { r =>
      val (n, w) = moments(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_h") === n)
      assert(r.getAs[Long]("w_q") === w)
      assert(r.getAs[Double]("neyman_share") === w.toDouble / wTot)
      assert(r.getAs[Long]("alloc_neyman") === w * B / wTot)
      assert(r.getAs[Long]("alloc_prop") === n * B / nTot)
    }
    // floor allocation under-spends by at most one row per stratum
    val spent = rows.map(_.getAs[Long]("alloc_neyman")).sum
    assert(spent <= B && spent > B - rows.length)
  }

  test("readability: java-regex count replay; vowel runs bounded by letters") {
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).toLowerCase))
    val word = "[a-z]+".r; val vowel = "[aeiouy]+".r
    val expected = docs.groupBy(_._1).map { case (lang, xs) =>
      val w = xs.map(d => word.findAllIn(d._2).length.toLong).sum
      val s = xs.map(d => vowel.findAllIn(d._2).length.toLong).sum
      val l = xs.map(d => d._2.count(c => c >= 'a' && c <= 'z').toLong).sum
      lang -> (xs.length.toLong, w, s, l)
    }
    val rows = TextOps.qDocReadability(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, w, s, l) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") === n)
      assert(r.getAs[Long]("words") === w)
      assert(r.getAs[Long]("syllables") === s)
      assert(r.getAs[Long]("letters") === l)
      assert(s <= l && l <= w * 64, "vowel runs bounded by letters")
      assert(r.getAs[Double]("flesch") ===
        206.835 - 1.015 * (w.toDouble / n) - 84.6 * (s.toDouble / w))
    }
  }

  test("degree assortativity: exact six-sum replay; r within [-1, 1]") {
    val edges = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val outdeg = edges.groupBy(_._1).map { case (kk, xs) => kk -> xs.size.toLong }
    val indeg = edges.groupBy(_._2).map { case (kk, xs) => kk -> xs.size.toLong }
    val xy = edges.map { case (s, d) => (outdeg(s), indeg(d)) }
    val n = xy.length.toLong
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map { case (x, y) => x * y }.sum
    val (sxx, syy) = (xy.map(x => x._1 * x._1).sum, xy.map(x => x._2 * x._2).sum)
    val row = Graph.qGraphAssortativity(spark, sf).head
    assert(row.getAs[Long]("n_edges") === n)
    assert(row.getAs[Long]("sx") === sx)
    assert(row.getAs[Long]("sy") === sy)
    assert(row.getAs[Long]("sxy") === sxy)
    val r = row.getAs[Double]("assortativity")
    assert(r === (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble)))
    assert(r >= -1.0 - 1e-12 && r <= 1.0 + 1e-12)
  }

  test("spc: integer rule-1 replay, runs-rule islands, moment tie-out") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), day(r.getAs[java.sql.Timestamp](1))))
      .groupBy(identity).map { case ((t, d), xs) => (t, d, xs.length.toLong) }
      .toSeq
    val d0 = daily.map(_._2).min; val d1 = daily.map(_._2).max
    val dCut = d0 + ((d1 - d0 + 1) * Analytics.spcBaseNum) / Analytics.spcBaseDen
    val base = daily.filter(_._2 < dCut).groupBy(_._1).map { case (t, xs) =>
      t -> (xs.length.toLong, xs.map(_._3).sum, xs.map(x => x._3 * x._3).sum)
    }.filter(_._2._1 >= 2)
    val expected = base.map { case (t, (nb, s, q)) =>
      val mon = daily.filter(x => x._1 == t && x._2 >= dCut).sortBy(_._2)
      val devs = mon.map(x => x._3 * nb - s)
      val rule1 = devs.count(d => d * d * (nb - 1) > 9 * nb * (nb * q - s * s))
      val sides = devs.map(d => java.lang.Long.signum(d))
      // maximal same-side islands over the ordered monitor points
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      sides.foreach { sd =>
        if (runs.nonEmpty && runs.last._1 == sd)
          runs(runs.length - 1) = (sd, runs.last._2 + 1)
        else runs += ((sd, 1))
      }
      val nRuns = runs.count { case (sd, len) =>
        sd != 0 && len >= Analytics.spcRunLen }
      val maxRun = (runs.filter(_._1 != 0).map(_._2) :+ 0).max
      t -> (nb, mon.length.toLong, s, q, rule1.toLong, nRuns.toLong, maxRun.toLong)
    }
    val rows = Analytics.qEventSpc(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (nb, nm, s, q, r1, nr, mr) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_base_days") === nb)
      assert(r.getAs[Long]("n_mon_days") === nm)
      assert(r.getAs[Double]("base_mean") === s.toDouble / nb)
      assert(r.getAs[Double]("base_sd") ===
        math.sqrt((nb * q - s * s).toDouble / (nb * (nb - 1)).toDouble))
      assert(r.getAs[Long]("n_rule1") === r1)
      assert(r.getAs[Long]("n_runs_rule") === nr)
      assert(r.getAs[Long]("max_run") === mr)
    }
  }

  test("single-source: distinct-supplier replay, exposure partition of revenue") {
    val lines = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP) *
          (BigDecimal(1) -
            BigDecimal(r.getDouble(3)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))))
    val brand = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perPart = lines.groupBy(_._1).map { case (pk, xs) =>
      (brand(pk), xs.map(_._2).distinct.length,
        (xs.map(_._3).sum * 10000).setScale(0, BigDecimal.RoundingMode.DOWN).toLong)
    }
    val expected = perPart.groupBy(_._1).map { case (b, xs) =>
      b -> (xs.size.toLong, xs.count(_._2 == 1).toLong, xs.map(_._3).sum,
        xs.filter(_._2 == 1).map(_._3).sum)
    }
    val rows = graft.queries.Warehouse.qPartSingleSource(spark, sf).collect()
    assert(rows.map(_.getAs[String]("p_brand")).toSet === expected.keySet)
    rows.foreach { r =>
      val (np, ns, rev, srev) = expected(r.getAs[String]("p_brand"))
      assert(r.getAs[Long]("n_parts") === np)
      assert(r.getAs[Long]("n_single") === ns)
      assert(r.getAs[Long]("rev_bp") === rev)
      assert(r.getAs[Long]("single_rev_bp") === srev)
      assert(r.getAs[Double]("single_part_share") === ns.toDouble / np)
      assert(r.getAs[Double]("exposure_share") ===
        (if (rev > 0) srev.toDouble / rev else 0.0))
      assert(srev <= rev, "exposed revenue is a subset of brand revenue")
    }
  }

  test("bootstrap: Poisson multiplicity replay; CI brackets the point mean") {
    def h31(sv: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP
    }
    val thresholds =
      Array(367879L, 735758L, 919698L, 981011L, 996340L, 999405L, 999916L, 999989L)
    def mult(u: Long): Long = {
      val i = thresholds.indexWhere(u < _)
      if (i < 0) 8L else i.toLong
    }
    val events = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
    val expected = events.groupBy(_._1).map { case (t, xs) =>
      val n = xs.length.toLong
      // replay each replicate's hash-derandomized Poisson weights
      val mults = Iterator.iterate(1L)(m => (m * Analytics.bootMixC) % 2147483647L)
        .take(Analytics.bootReps).toArray
      val means = (0 until Analytics.bootReps).flatMap { b =>
        // one digest per event, shifted nonzero; per-replicate uniform =
        // MINSTD-power bijection of the event hash (the engine's
        // multiplicative single-hash rescramble, r11-advice form)
        val ws = xs.map { case (_, id, v) =>
          val u0p = (h31(s"$id") % 2147483646L) + 1L
          (mult(((u0p * mults(b)) % 2147483647L) % 1000000L), v)
        }
        val mw = ws.map(_._1).sum
        if (mw > 0) Some((ws.map { case (m, v) => v * m }.sum.toDouble) / mw)
        else None
      }.sorted
      t -> (n, xs.map(_._3).sum.toDouble / n, means)
    }
    val rows = Analytics.qEventBootstrap(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, mean, means) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Double]("mean_value") === mean)
      assert(r.getAs[Long]("n_reps") === means.length.toLong)
      assert(r.getAs[Double]("ci_lo") === means(Analytics.bootLoIdx - 1))
      assert(r.getAs[Double]("ci_hi") === means(Analytics.bootHiIdx - 1))
      assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("ci_hi"))
      // the resample distribution straddles its own center
      assert(r.getAs[Double]("ci_lo") <= mean && mean <= r.getAs[Double]("ci_hi"),
        "95% percentile interval should bracket the point mean here")
    }
  }

  test("sax: PAA z-replay, word assembly ordered by segment, counts partition") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => ((r.getString(0), day(r.getAs[java.sql.Timestamp](1))),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case ((t, d), xs) =>
        (t, d, (xs.map(_._2).sum * 100).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
      }.toSeq
    val d0 = daily.map(_._2).min
    val expected = daily.groupBy(_._1).flatMap { case (t, xs) =>
      val nb = xs.length.toLong
      val s = xs.map(_._3).sum; val q = xs.map(x => x._3 * x._3).sum
      if (nb < 2 || nb * q - s * s <= 0) None
      else {
        val sd = math.sqrt((nb * q - s * s).toDouble / (nb * (nb - 1)).toDouble)
        val word = xs.groupBy(x => (x._2 - d0) / Analytics.saxSegDays).toSeq
          .sortBy(_._1).map { case (_, seg) =>
            val z = (seg.map(_._3).sum.toDouble / seg.length -
              s.toDouble / nb) / sd
            if (z < Analytics.saxBreakLo) 'a'
            else if (z < 0.0) 'b'
            else if (z < Analytics.saxBreakHi) 'c' else 'd'
          }.mkString
        Some(t -> (nb, word))
      }
    }
    val rows = Analytics.qEventSax(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (nb, word) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_days") === nb)
      assert(r.getAs[String]("sax_word") === word)
      assert(r.getAs[Long]("n_segments") === word.length.toLong)
      assert(r.getAs[Long]("n_a") === word.count(_ == 'a').toLong)
      assert(r.getAs[Long]("n_b") === word.count(_ == 'b').toLong)
      assert(r.getAs[Long]("n_c") === word.count(_ == 'c').toLong)
      assert(r.getAs[Long]("n_d") === word.count(_ == 'd').toLong)
    }
  }

  test("perfect order: line-conjunction replay; decomposition partitions orders") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").cast("timestamp")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), day(r.getAs[java.sql.Timestamp](2))))
      .toMap
    val lines = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("timestamp"),
        col("l_returnflag")).collect()
      .map(r => (r.getLong(0), day(r.getAs[java.sql.Timestamp](1)), r.getString(2)))
    val perOrder = lines.groupBy(_._1).map { case (ok, xs) =>
      val (pri, od) = orders(ok)
      (pri,
        xs.exists(x => x._2 - od > Analytics.perfectLeadDays),
        xs.exists(_._3 == "R"))
    }.toSeq
    val expected = perOrder.groupBy(_._1).map { case (p, xs) =>
      p -> (xs.length.toLong,
        xs.count(x => !x._2 && !x._3).toLong, xs.count(x => x._2 && !x._3).toLong,
        xs.count(x => !x._2 && x._3).toLong, xs.count(x => x._2 && x._3).toLong)
    }
    val rows = Analytics.qOrderPerfect(spark, sf).collect()
    assert(rows.map(_.getAs[String]("o_orderpriority")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, np, nl, nr, nbth) = expected(r.getAs[String]("o_orderpriority"))
      assert(r.getAs[Long]("n_orders") === n)
      assert(r.getAs[Long]("n_perfect") === np)
      assert(r.getAs[Long]("n_late_only") === nl)
      assert(r.getAs[Long]("n_return_only") === nr)
      assert(r.getAs[Long]("n_both") === nbth)
      assert(np + nl + nr + nbth === n, "decomposition partitions the orders")
      assert(r.getAs[Double]("perfect_rate") === np.toDouble / n)
    }
  }

  test("kn lm: continuation-count replay; ordered-fold mean ties out") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val bgl = docs.flatMap { case (id, t) =>
      t.zip(t.tail).zipWithIndex.map { case ((a, b), i) => (id, i, a, b) }
    }
    val bi = bgl.groupBy(x => (x._3, x._4)).map { case (k, xs) => k -> xs.length.toLong }
    val c1 = bi.groupBy(_._1._1).map { case (w, xs) =>
      w -> (xs.values.sum, xs.size.toLong) }
    val n1b = bi.groupBy(_._1._2).map { case (w, xs) => w -> xs.size.toLong }
    val bt = bi.size.toLong
    val expected = bgl.groupBy(_._1).map { case (id, xs) =>
      val ps = xs.sortBy(_._2).map { case (_, _, a, b) =>
        val (ca, nf) = c1(a)
        math.max(bi((a, b)).toDouble - TextOps.knDiscount, 0.0) / ca +
          ((TextOps.knDiscount * nf) / ca) * (n1b(b).toDouble / bt)
      }
      id -> (xs.length.toLong, ps.foldLeft(0.0)(_ + _) / xs.length)
    }
    val rows = TextOps.qDocKnLm(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, avg) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_bigrams") === n)
      assert(r.getAs[Double]("avg_kn_p") === avg)
      assert(avg > 0.0 && avg <= 1.0 + 1e-9)
    }
    // discounted+redistributed mass: KN score differs from the MLE model
    val mle = TextOps.qDocBigramLm(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_bigram_p")).toMap
    assert(rows.exists(r =>
      math.abs(r.getAs[Double]("avg_kn_p") - mle(r.getAs[Long]("doc_id"))) > 1e-9))
  }

  test("textrank: integer pagerank replay over the token graph") {
    val docs = Tables.documents(spark, sf)
      .select(col("text")).collect().map(_.getString(0).split(" ", -1))
    val vocab = docs.flatten.groupBy(identity)
      .collect { case (t, xs) if xs.length >= TextOps.textrankMinCount => t }
      .toSet
    val edges = docs.flatMap(t => t.zip(t.tail)).filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      .filter { case (a, b) => vocab(a) && vocab(b) }
    val deg = edges.groupBy(_._1).map { case (n, xs) => n -> xs.length.toLong }
    var r = vocab.map(_ -> Graph.rankScale).toMap
    (1 to 3).foreach { _ =>
      val inbox = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = vocab.map(v =>
        v -> (Graph.rankScale * 15 / 100 + 85 * inbox.getOrElse(v, 0L) / 100)).toMap
    }
    val top = r.toSeq.sortBy { case (t, rk) => (-rk, t) }.take(TextOps.textrankTopN)
    val rows = TextOps.qDocTextrank(spark, sf).collect()
    assert(rows.length === top.length)
    rows.zip(top).foreach { case (row, (t, rk)) =>
      assert(row.getAs[String]("token") === t)
      assert(row.getAs[Long]("rank_scaled") === rk)
    }
  }

  test("abc-xyz: integer CV classes, cumulative-share cut, cell partition") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_shipdate").cast("timestamp"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount")).collect()
      .map { r =>
        val rev = BigDecimal(r.getDouble(3)).setScale(4, BigDecimal.RoundingMode.HALF_UP) *
          (BigDecimal(1) - BigDecimal(r.getDouble(4)).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        (r.getLong(0), day(r.getAs[java.sql.Timestamp](1)),
          BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP), rev)
      }
    val d0 = li.map(_._2).min
    val w = (li.map(_._2).max - d0) / graft.queries.Warehouse.xyzWeekDays + 1
    val perPart = li.groupBy(_._1).map { case (pk, xs) =>
      val weekly = xs.groupBy(x => (x._2 - d0) / graft.queries.Warehouse.xyzWeekDays)
        .map { case (_, ys) =>
          (ys.map(_._3).sum * 100).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong }
      val s = weekly.sum; val q = weekly.map(x => x * x).sum
      val revBp = (xs.map(_._4).sum * 10000)
        .setScale(0, BigDecimal.RoundingMode.DOWN).toLong
      val xyz =
        if (w * (w * q - s * s) * 4 < s * s * (w - 1)) "X"
        else if (w * (w * q - s * s) < s * s * (w - 1)) "Y" else "Z"
      (pk, revBp, xyz)
    }.toSeq
    val tot = perPart.map(_._2).sum
    val ranked = perPart.sortBy { case (pk, rb, _) => (-rb, pk) }
    var cum = 0L
    val classed = ranked.map { case (pk, rb, xyz) =>
      cum += rb
      val abc = if (cum * 10 <= tot * 7) "A" else if (cum * 10 <= tot * 9) "B" else "C"
      (abc, xyz, rb)
    }
    val expected = classed.groupBy(c => (c._1, c._2)).map { case (k, xs) =>
      k -> (xs.length.toLong, xs.map(_._3).sum)
    }
    val rows = graft.queries.Warehouse.qPartAbcXyz(spark, sf).collect()
    assert(rows.map(r =>
      (r.getAs[String]("cls_abc"), r.getAs[String]("cls_xyz"))).toSet === expected.keySet)
    rows.foreach { r =>
      val (np, rb) = expected((r.getAs[String]("cls_abc"), r.getAs[String]("cls_xyz")))
      assert(r.getAs[Long]("n_parts") === np)
      assert(r.getAs[Long]("rev_bp") === rb)
      assert(r.getAs[Double]("rev_share") === rb.toDouble / tot)
    }
    assert(rows.map(_.getAs[Long]("n_parts")).sum === perPart.length.toLong,
      "matrix cells partition the traded parts")
    assert(rows.map(_.getAs[Long]("rev_bp")).sum === tot,
      "matrix cells partition total revenue")
  }

  test("ks drift: integer sup-gap replay; D in [0,1]; threshold algebra") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), day(r.getAs[java.sql.Timestamp](1)),
        (BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          * 10000).toLong))
    val d0 = ev.map(_._2).min; val d1 = ev.map(_._2).max
    val dMid = d0 + (d1 - d0 + 1) / 2
    val expected = ev.groupBy(_._1).flatMap { case (t, xs) =>
      val ref = xs.filter(_._2 < dMid).map(_._3)
      val cur = xs.filter(_._2 >= dMid).map(_._3)
      if (ref.isEmpty || cur.isEmpty) None
      else {
        val n1 = ref.length.toLong; val n2 = cur.length.toLong
        val dNum = (ref ++ cur).map(_.toLong).distinct.map { v =>
          math.abs(ref.count(_ <= v) * n2 - cur.count(_ <= v) * n1)
        }.max
        Some(t -> (n1, n2, dNum))
      }
    }
    val rows = Analytics.qEventKsDrift(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n1, n2, dNum) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_ref") === n1)
      assert(r.getAs[Long]("n_cur") === n2)
      assert(r.getAs[Long]("d_num") === dNum)
      val d = r.getAs[Double]("d_stat")
      assert(d === dNum.toDouble / (n1 * n2).toDouble)
      assert(d >= 0.0 && d <= 1.0)
      val crit = Analytics.ksCrit05 *
        math.sqrt((n1 + n2).toDouble / (n1 * n2).toDouble)
      assert(r.getAs[Double]("ks_crit") === crit)
      assert(r.getAs[Boolean]("drifted") === (d > crit))
    }
  }

  test("records: running-extreme replay; harmonic fold; first day double-counts") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => ((r.getString(0), day(r.getAs[java.sql.Timestamp](1))),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case ((t, d), xs) =>
        (t, d, (xs.map(_._2).sum * 100).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
      }.toSeq
    val expected = daily.groupBy(_._1).map { case (t, xs) =>
      val s = xs.sortBy(_._2).map(_._3)
      val hi = s.indices.count(i => i == 0 || s(i) > s.take(i).max)
      val lo = s.indices.count(i => i == 0 || s(i) < s.take(i).min)
      val h = (1 to s.length).foldLeft(0.0)((acc, k) => acc + 1.0 / k)
      t -> (s.length.toLong, hi.toLong, lo.toLong, h)
    }
    val rows = Analytics.qEventRecords(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, hi, lo, h) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_days") === n)
      assert(r.getAs[Long]("n_high_records") === hi)
      assert(r.getAs[Long]("n_low_records") === lo)
      assert(r.getAs[Double]("expected_records") === h)
      assert(r.getAs[Double]("high_ratio") === hi.toDouble / h)
      assert(r.getAs[Double]("low_ratio") === lo.toDouble / h)
      assert(hi >= 1L && lo >= 1L, "the first day is a record on both sides")
    }
  }

  test("haar energy: integer block-difference replay; shares sum to one") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => ((r.getString(0), day(r.getAs[java.sql.Timestamp](1))),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case ((t, d), xs) =>
        (t, d, (xs.map(_._2).sum * 100).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
      }.toSeq
    val d0 = daily.map(_._2).min
    val expected = (for {
      (t, xs) <- daily.groupBy(_._1).toSeq
      l <- 1 to Analytics.haarLevels
    } yield {
      val block = 1L << l; val half = 1L << (l - 1)
      val ds = xs.map(x => (x._2 - d0, x._3)).groupBy(_._1 / block)
        .map { case (_, ys) =>
          ys.map { case (di, xc) => if ((di / half) % 2 == 0) xc else -xc }.sum
        }
      ((t, l), (ds.size.toLong, ds.map(d => d * d).sum))
    }).toMap
    val rows = Analytics.qEventHaarEnergy(spark, sf).collect()
    assert(rows.map(r =>
      (r.getAs[String]("event_type"), r.getAs[Int]("level"))).toSet === expected.keySet)
    rows.foreach { r =>
      val (nb, e) = expected((r.getAs[String]("event_type"), r.getAs[Int]("level")))
      assert(r.getAs[Long]("n_blocks") === nb)
      assert(r.getAs[Long]("energy") === e)
    }
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val shares = rs.map(_.getAs[Double]("energy_share"))
      assert(math.abs(shares.sum - 1.0) < 1e-9, "level shares partition the energy")
      assert(rs.length === Analytics.haarLevels)
    }
  }

  test("granger: exact moment replay; nested R2; AR-only control") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => ((r.getString(0), day(r.getAs[java.sql.Timestamp](1))),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case ((t, d), xs) =>
        ((t, d), (xs.map(_._2).sum * 100).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
      }
    val types = daily.keys.map(_._1).toSeq.distinct
    val expected = (for {
      c <- types; e <- types if c != e
    } yield {
      val triples = daily.collect {
        case ((t, d), y) if t == e &&
          daily.contains((e, d - 1)) && daily.contains((c, d - 1)) =>
          (y, daily((c, d - 1)), daily((e, d - 1)))
      }.toSeq
      val n = triples.length.toLong
      if (n < 4) None
      else {
        val sy = triples.map(_._1).sum; val sx = triples.map(_._2).sum
        val sz = triples.map(_._3).sum
        def c2(f: ((Long, Long, Long)) => Long, g: ((Long, Long, Long)) => Long,
            sf1: Long, sf2: Long): Long =
          n * triples.map(t => f(t) * g(t)).sum - sf1 * sf2
        val cyx = c2(_._1, _._2, sy, sx); val cyz = c2(_._1, _._3, sy, sz)
        val cxz = c2(_._2, _._3, sx, sz); val cyy = c2(_._1, _._1, sy, sy)
        val cxx = c2(_._2, _._2, sx, sx); val czz = c2(_._3, _._3, sz, sz)
        if (cyy <= 0 || cxx <= 0 || czz <= 0 ||
          cxx.toDouble * czz.toDouble - cxz.toDouble * cxz.toDouble <= 0.0) None
        else {
          val r2r = (cyz.toDouble * cyz.toDouble) / (cyy.toDouble * czz.toDouble)
          val r2u = ((czz.toDouble * (cyx.toDouble * cyx.toDouble)) -
            (2.0 * (cxz.toDouble * (cyx.toDouble * cyz.toDouble))) +
            (cxx.toDouble * (cyz.toDouble * cyz.toDouble))) /
            (cyy.toDouble * ((cxx.toDouble * czz.toDouble) -
              (cxz.toDouble * cxz.toDouble)))
          if (r2u >= 1.0) None
          else Some((c, e) -> (n, r2r, r2u,
            ((r2u - r2r) / (1.0 - r2u)) * (n - 3).toDouble))
        }
      }
    }).flatten.toMap
    val rows = Analytics.qEventGranger(spark, sf).collect()
    assert(rows.map(r =>
      (r.getAs[String]("cause"), r.getAs[String]("eff"))).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, r2r, r2u, f) =
        expected((r.getAs[String]("cause"), r.getAs[String]("eff")))
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Double]("r2_restricted") === r2r)
      assert(r.getAs[Double]("r2_unrestricted") === r2u)
      assert(r.getAs[Double]("f_stat") === f)
      assert(r2u >= r2r - 1e-12, "adding a regressor never lowers R2")
      assert(r.getAs[Boolean]("granger") === (f > Analytics.grangerF05))
    }
  }

  test("brand rank tau: sign-algebra concordance replay; pairs partition") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val brand = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_shipdate").cast("timestamp"),
        col("l_extendedprice"), col("l_discount")).collect()
      .map { r =>
        val rev = BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP) *
          (BigDecimal(1) - BigDecimal(r.getDouble(3)).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        (brand(r.getLong(0)), day(r.getAs[java.sql.Timestamp](1)), rev)
      }
    val d0 = li.map(_._2).min; val d1 = li.map(_._2).max
    val dMid = d0 + (d1 - d0 + 1) / 2
    val byBrand = li.groupBy(_._1).map { case (b, xs) =>
      b -> ((xs.filter(_._2 < dMid).map(_._3).sum * 10000)
              .setScale(0, BigDecimal.RoundingMode.DOWN).toLong,
            (xs.filter(_._2 >= dMid).map(_._3).sum * 10000)
              .setScale(0, BigDecimal.RoundingMode.DOWN).toLong)
    }
    val brands = byBrand.keys.toSeq.sorted
    val prods = for {
      i <- brands.indices; j <- (i + 1) until brands.length
    } yield {
      val (r1a, r2a) = byBrand(brands(i)); val (r1b, r2b) = byBrand(brands(j))
      java.lang.Long.signum(r1a - r1b) * java.lang.Long.signum(r2a - r2b)
    }
    val row = graft.queries.Warehouse.qBrandRankTau(spark, sf).head()
    assert(row.getAs[Long]("n_pairs") === prods.length.toLong)
    assert(row.getAs[Long]("concordant") === prods.count(_ > 0).toLong)
    assert(row.getAs[Long]("discordant") === prods.count(_ < 0).toLong)
    assert(row.getAs[Long]("ties") === prods.count(_ == 0).toLong)
    val tau = (prods.count(_ > 0) - prods.count(_ < 0)).toDouble / prods.length
    assert(row.getAs[Double]("tau") === tau)
    assert(tau >= -1.0 && tau <= 1.0)
    assert(row.getAs[Long]("concordant") + row.getAs[Long]("discordant") +
      row.getAs[Long]("ties") === row.getAs[Long]("n_pairs"))
  }

  test("ivfpq: bit-exact residual-quantization replay of the full chain") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
      .sortBy(_._1)
    def dotSeq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
    def centroidsOf(vs: Seq[(Long, Int, Array[Double])]): Map[Int, Array[Double]] =
      vs.groupBy(_._2).map { case (l, xs) =>
        val s = xs.sortBy(_._1)
        l -> Array.tabulate(64)(i =>
          s.map(_._3(i)).foldLeft(0.0)(_ + _) / s.length)
      }
    val cents = centroidsOf(embs.toSeq)
    def assign(e: Array[Double]): Int = {
      val ee = dotSeq(e, e)
      cents.toSeq.map { case (l, cv) =>
        ((ee - 2 * dotSeq(e, cv)) + dotSeq(cv, cv), l)
      }.minBy(identity)._2
    }
    val resid = embs.map { case (id, l, e) =>
      val cell = assign(e)
      (id, l, cell, e.zip(cents(cell)).map { case (a, b) => a - b })
    }
    val rcents = centroidsOf(resid.map(r => (r._1, r._2, r._4)).toSeq)
    val codesOf = rcents.keys.toSeq.sorted
    def sub(v: Array[Double], s: Int): Array[Double] = v.slice(s * 16, s * 16 + 16)
    def encode(r: Array[Double]): Array[Int] =
      Array.tabulate(4) { s =>
        val rs = sub(r, s)
        codesOf.map { c =>
          val cv = sub(rcents(c), s)
          ((dotSeq(rs, rs) - 2 * dotSeq(rs, cv)) + dotSeq(cv, cv), c)
        }.minBy(identity)._2
      }
    val k = Similarity.topK
    val queries = resid.filter(_._1 < Similarity.nQueryVecs)
    val cands = resid.filter(_._1 >= Similarity.nQueryVecs)
      .map(r => (r._1, r._3, encode(r._4)))
    val expected = queries.flatMap { case (qid, _, qCell, qr) =>
      val dtab = Array.tabulate(4)(s => codesOf.map { c =>
        val rs = sub(qr, s); val cv = sub(rcents(c), s)
        c -> ((dotSeq(rs, rs) - 2 * dotSeq(rs, cv)) + dotSeq(cv, cv))
      }.toMap)
      cands.filter(_._2 == qCell).map { case (cid, cell, codes) =>
        val adc = (0 until 4).foldLeft(0.0)((acc, s) => acc + dtab(s)(codes(s)))
        (qid, cid, cell.toLong, adc)
      }.sortBy(x => (x._4, x._2)).take(k)
    }
    val rows = Similarity.qEmbIvfPq(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Number]("cell").longValue, r.getAs[Double]("adc_dist")))
    assert(rows.length === expected.length)
    rows.sortBy(x => (x._1, x._4, x._2))
      .zip(expected.sortBy(x => (x._1, x._4, x._2))).foreach { case (got, want) =>
        assert(got === want)
      }
    // cell membership agrees with the exact same-cell candidate sets
    queries.foreach { case (qid, _, qCell, _) =>
      val qe = embs.find(_._1 == qid).get._3
      val exact = resid.filter(r => r._1 >= Similarity.nQueryVecs && r._3 == qCell)
        .map { r =>
          val ce = embs.find(_._1 == r._1).get._3
          val d = qe.zip(ce).map { case (a, b) => (a - b) * (a - b) }.sum
          (r._1, d)
        }.sortBy(x => (x._2, x._1)).take(k).map(_._1).toSet
      val got = rows.filter(_._1 == qid).map(_._2).toSet
      // a query alone in its cell legitimately retrieves nothing (nprobe=1)
      assert(got.isEmpty === exact.isEmpty,
        s"query $qid: IVFPQ and exact disagree on same-cell candidate existence")
    }
    // the ADC identity: the scored distance IS the exact L2 between the
    // query residual and the DECODED candidate residual (up to float
    // association) — the defining property of asymmetric distance
    // computation, independent of codebook quality
    rows.foreach { case (qid, cid, _, adc) =>
      val qr = queries.find(_._1 == qid).get._4
      val codes = cands.find(_._1 == cid).get._3
      val recon = (0 until 4).map { s =>
        val qs = sub(qr, s); val cv = sub(rcents(codes(s)), s)
        qs.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      assert(math.abs(adc - recon) <= 1e-9 * math.max(1.0, math.abs(recon)),
        s"ADC($qid,$cid)=$adc vs reconstruction distance $recon")
    }
  }

  test("mann-whitney: doubled-midrank replay; tie term; z algebra") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), day(r.getAs[java.sql.Timestamp](1)),
        (BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          * 10000).toLong))
    val d0 = ev.map(_._2).min; val d1 = ev.map(_._2).max
    val dMid = d0 + (d1 - d0 + 1) / 2
    val expected = ev.groupBy(_._1).flatMap { case (t, xs) =>
      val byV = xs.groupBy(_._3).map { case (v, ys) =>
        (v, ys.count(_._2 < dMid).toLong, ys.count(_._2 >= dMid).toLong)
      }.toSeq.sortBy(_._1)
      val n1 = byV.map(_._2).sum; val n2 = byV.map(_._3).sum
      if (n1 == 0 || n2 == 0) None
      else {
        var cum = 0L
        var r2sum = 0L; var ties3 = 0L
        byV.foreach { case (_, a1, a2) =>
          val tt = a1 + a2
          val rank2 = 2 * cum + (tt + 1)
          r2sum += a1 * rank2; ties3 += tt * tt * tt - tt; cum += tt
        }
        val n = n1 + n2
        val u2 = 2 * n1 * n2 + n1 * (n1 + 1) - r2sum
        val sigma = math.sqrt(((n1.toDouble * n2.toDouble) *
          (((n.toDouble * n.toDouble * n.toDouble) - n.toDouble) - ties3.toDouble)) /
          (12.0 * n.toDouble * (n.toDouble - 1.0)))
        if (sigma <= 0.0) None
        else Some(t -> (n1, n2, u2, ties3,
          ((u2.toDouble - n1.toDouble * n2.toDouble) / 2.0) / sigma))
      }
    }
    val rows = Analytics.qEventMannWhitney(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n1, n2, u2, ties3, z) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_ref") === n1)
      assert(r.getAs[Long]("n_cur") === n2)
      assert(r.getAs[Long]("u1_doubled") === u2)
      assert(r.getAs[Long]("tie_term") === ties3)
      assert(r.getAs[Double]("z_stat") === z)
      assert(r.getAs[Boolean]("shifted") === (math.abs(z) > 1.96))
      assert(u2 >= 0 && u2 <= 2 * n1 * n2, "2U1 within its range")
    }
  }

  test("cusum: scaled-integer fold replay; alarm day is the first crossing") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), day(r.getAs[java.sql.Timestamp](1))))
      .groupBy(identity).map { case ((t, d), xs) => (t, d, xs.length.toLong) }
      .toSeq
    val d0 = daily.map(_._2).min; val d1 = daily.map(_._2).max
    val dCut = d0 + ((d1 - d0 + 1) * Analytics.spcBaseNum) / Analytics.spcBaseDen
    val expected = daily.groupBy(_._1).flatMap { case (t, xs) =>
      val s = xs.filter(_._2 < dCut).map(_._3).sum
      if (xs.count(_._2 < dCut) < 1 || s <= 0) None
      else {
        val nb = xs.count(_._2 < dCut).toLong
        val mon = xs.filter(_._2 >= dCut).sortBy(_._2)
        var acc = 0L; var peak = 0L; var alarm = -1L
        mon.foreach { case (_, dn, x) =>
          val d = Analytics.cusumSlackDiv * nb * x -
            (Analytics.cusumSlackDiv + 1) * s
          acc = math.max(0L, acc + d)
          peak = math.max(peak, acc)
          if (alarm < 0 &&
            acc > Analytics.cusumThreshMult * Analytics.cusumSlackDiv * s)
            alarm = dn
        }
        Some(t -> (mon.length.toLong, peak, alarm))
      }
    }
    val rows = Analytics.qEventCusum(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (nm, peak, alarm) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_mon") === nm)
      assert(r.getAs[Long]("peak_scaled") === peak)
      assert(r.getAs[Long]("alarm_day") === alarm)
      assert(r.getAs[Boolean]("alarmed") === (alarm >= 0))
      assert(peak >= 0L)
    }
  }

  test("bullwhip: weekly dollar moments replay; CV2 algebra; ratio consistency") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val segOf = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val orderCust = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate").cast("timestamp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), day(r.getAs[java.sql.Timestamp](2))))
      .toMap
    val placed = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp"),
        col("o_totalprice")).collect()
      .map(r => (segOf(r.getLong(0)), day(r.getAs[java.sql.Timestamp](1)),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
    val shipped = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("timestamp"),
        col("l_extendedprice"), col("l_discount")).collect()
      .map { r =>
        val (ck, _) = orderCust(r.getLong(0))
        val rev = BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP) *
          (BigDecimal(1) - BigDecimal(r.getDouble(3)).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        (segOf(ck), day(r.getAs[java.sql.Timestamp](1)), rev)
      }
    val dAll = placed.map(_._2) ++ shipped.map(_._2)
    val dd0 = dAll.min
    val w = (dAll.max - dd0) / graft.queries.Warehouse.xyzWeekDays + 1
    def moments(src: Seq[(String, Long, BigDecimal)]): Map[String, (Long, Long)] =
      src.groupBy(_._1).map { case (sg, xs) =>
        val weekly = xs.groupBy(x => (x._2 - dd0) / graft.queries.Warehouse.xyzWeekDays)
          .map { case (_, ys) =>
            ys.map(_._3).sum.setScale(0, BigDecimal.RoundingMode.FLOOR).toLong }
        sg -> (weekly.sum, weekly.map(x => x * x).sum)
      }
    def cv2(s: Long, q: Long): Double =
      ((w.toDouble * q.toDouble - s.toDouble * s.toDouble) * w.toDouble) /
        ((s.toDouble * s.toDouble) * (w.toDouble - 1.0))
    val pm = moments(placed.toSeq); val sm = moments(shipped.toSeq)
    val rows = graft.queries.Warehouse.qSegBullwhip(spark, sf).collect()
    assert(rows.map(_.getAs[String]("c_mktsegment")).toSet ===
      pm.keySet.intersect(sm.keySet).filter(k => pm(k)._1 > 0 && sm(k)._1 > 0))
    rows.foreach { r =>
      val sg = r.getAs[String]("c_mktsegment")
      val (sp, qp) = pm(sg); val (ss, qs) = sm(sg)
      assert(r.getAs[Long]("n_weeks") === w)
      assert(r.getAs[Long]("demand_dollars") === sp)
      assert(r.getAs[Long]("shipped_dollars") === ss)
      assert(r.getAs[Double]("cv2_demand") === cv2(sp, qp))
      assert(r.getAs[Double]("cv2_fulfilment") === cv2(ss, qs))
      assert(r.getAs[Double]("bullwhip_ratio") === cv2(ss, qs) / cv2(sp, qp))
      assert(r.getAs[Double]("cv2_demand") >= 0.0)
      assert(r.getAs[Double]("cv2_fulfilment") >= 0.0)
    }
  }

  test("anova: moment replay, ordered group fold, variance partition") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val suppNation = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nationName = Tables.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val orderDay = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate").cast("timestamp")).collect()
      .map(r => r.getLong(0) -> day(r.getAs[java.sql.Timestamp](1))).toMap
    val leads = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate").cast("timestamp"))
      .collect()
      .map(r => (nationName(suppNation(r.getLong(1))),
        day(r.getAs[java.sql.Timestamp](2)) - orderDay(r.getLong(0))))
    val per = leads.groupBy(_._1).map { case (g, xs) =>
      (g, xs.length.toLong, xs.map(_._2).sum, xs.map(x => x._2 * x._2).sum)
    }.toSeq.sortBy(_._1)
    val k = per.length.toLong; val n = per.map(_._2).sum
    val s = per.map(_._3).sum; val q = per.map(_._4).sum
    val sumSg2Ng = per.foldLeft(0.0) { case (acc, (_, ng, sg, _)) =>
      acc + (sg.toDouble * sg.toDouble) / ng.toDouble }
    val ssb = sumSg2Ng - (s.toDouble * s.toDouble) / n.toDouble
    val ssw = q.toDouble - sumSg2Ng
    val f = (ssb / (k - 1).toDouble) / (ssw / (n - k).toDouble)
    val row = graft.queries.Warehouse.qLeadtimeAnova(spark, sf).head()
    assert(row.getAs[Long]("n_groups") === k)
    assert(row.getAs[Long]("n_lines") === n)
    assert(row.getAs[Double]("ss_between") === ssb)
    assert(row.getAs[Double]("ss_within") === ssw)
    assert(row.getAs[Double]("f_stat") === f)
    assert(row.getAs[Double]("eta2") === ssb / (ssb + ssw))
    assert(row.getAs[Boolean]("significant") ===
      (f > graft.queries.Warehouse.anovaF05))
    assert(ssb >= -1e-6 && ssw > 0.0, "variance partition is non-negative")
  }

  test("hurst: scaled-integer R/S replay per octave; random-walk-free bounds") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => ((r.getString(0), day(r.getAs[java.sql.Timestamp](1))),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case ((t, d), xs) =>
        (t, d, (xs.map(_._2).sum * 100).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
      }.toSeq
    def meanRs(xs: Seq[Long], n: Int): Option[(Long, Double)] = {
      val blocks = xs.grouped(n).filter(_.length == n).toSeq
      val rss = blocks.flatMap { b =>
        val sb = b.sum; val qb = b.map(x => x * x).sum
        if (n * qb - sb * sb <= 0) None
        else {
          var p = 0L
          val ws = b.zipWithIndex.map { case (x, i) =>
            p += x; n * p - (i + 1) * sb
          }
          val r = math.max(0L, ws.max) - math.min(0L, ws.min)
          Some(r.toDouble / math.sqrt((n * qb - sb * sb).toDouble))
        }
      }
      if (rss.isEmpty) None
      else Some((rss.length.toLong, rss.foldLeft(0.0)(_ + _) / rss.length))
    }
    val expected = daily.groupBy(_._1).flatMap { case (t, xs) =>
      val s = xs.sortBy(_._2).map(_._3)
      val per = Analytics.hurstNs.flatMap(n => meanRs(s, n).map(n -> _))
      if (per.length < Analytics.hurstNs.length) None
      else {
        val rs = per.toMap
        val h = (math.floor(math.log(rs(16)._2) * 1e6).toLong -
          math.floor(math.log(rs(4)._2) * 1e6).toLong).toDouble /
          (2L * Analytics.ln2Micro).toDouble
        Some(t -> (rs(4)._2, rs(8)._2, rs(16)._2, h))
      }
    }
    val rows = Analytics.qEventHurst(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (r4, r8, r16, h) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Double]("rs_4") === r4)
      assert(r.getAs[Double]("rs_8") === r8)
      assert(r.getAs[Double]("rs_16") === r16)
      assert(r.getAs[Double]("hurst") === h)
      // R/S grows with n for any non-degenerate series; H in a sane band
      assert(r16 > r4, "rescaled range must grow across octaves")
      assert(h > -0.5 && h < 1.5, s"hurst estimate $h outside sanity band")
    }
  }

  test("burrows delta: dense-grid z-profile replay; symmetry of the panel") {
    val toks = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(r.getString(0) -> _))
    val topW = toks.map(_._2).groupBy(identity).toSeq
      .map { case (w, xs) => (w, xs.length.toLong) }
      .sortBy { case (w, c) => (-c, w) }.take(TextOps.deltaTopWords).map(_._1)
    val sources = toks.map(_._1).distinct.sorted
    val totals = toks.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
    val f = (for (s <- sources; w <- topW) yield
      (s, w) -> toks.count(t => t._1 == s && t._2 == w).toDouble / totals(s)).toMap
    val stats = topW.flatMap { w =>
      val fs = sources.map(s => f((s, w)))
      val mu = fs.foldLeft(0.0)(_ + _) / fs.length
      val sd = math.sqrt(fs.foldLeft(0.0)((a, x) => a + (x - mu) * (x - mu)) /
        (fs.length - 1))
      if (sd > 0.0) Some(w -> (mu, sd)) else None
    }.toMap
    val expected = (for {
      i <- sources.indices; j <- (i + 1) until sources.length
    } yield {
      val ws = topW.filter(stats.contains).sorted
      val d = ws.map { w =>
        val (mu, sd) = stats(w)
        math.abs((f((sources(i), w)) - mu) / sd - (f((sources(j), w)) - mu) / sd)
      }.foldLeft(0.0)(_ + _) / ws.length
      (sources(i), sources(j)) -> (ws.length.toLong, d)
    }).toMap
    val rows = TextOps.qSrcBurrowsDelta(spark, sf).collect()
    assert(rows.map(r =>
      (r.getAs[String]("sa"), r.getAs[String]("sb"))).toSet === expected.keySet)
    rows.foreach { r =>
      val (nw, d) = expected((r.getAs[String]("sa"), r.getAs[String]("sb")))
      assert(r.getAs[Long]("n_words") === nw)
      assert(r.getAs[Double]("delta") === d)
      assert(d >= 0.0)
    }
  }

  test("drawdown: integer prefix/high-water replay; worst slide picked first") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => ((r.getString(0), day(r.getAs[java.sql.Timestamp](1))),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case ((t, d), xs) =>
        (t, d, (xs.map(_._2).sum * 100).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
      }.toSeq
    val expected = daily.groupBy(_._1).flatMap { case (t, xs) =>
      var p = 0L; var hwm = Long.MinValue
      val trace = xs.sortBy(_._2).map { case (_, d, xc) =>
        p += xc; hwm = math.max(hwm, p); (d, p, hwm, hwm - p)
      }
      val best = trace.sortBy(x => (-x._4, x._1)).head
      if (best._3 > 0) Some(t -> best) else None
    }
    val rows = Analytics.qEventDrawdown(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (d, p, hwm, dd) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("trough_day") === d)
      assert(r.getAs[Long]("trough_total_cents") === p)
      assert(r.getAs[Long]("high_water_cents") === hwm)
      assert(r.getAs[Long]("max_drawdown_cents") === dd)
      assert(r.getAs[Double]("drawdown_frac") === dd.toDouble / hwm.toDouble)
      assert(dd >= 0L && hwm >= p)
    }
  }

  test("shrunk late rate: quantized-moment fit replay; shrinkage direction") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val orderDay = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate").cast("timestamp")).collect()
      .map(r => r.getLong(0) -> day(r.getAs[java.sql.Timestamp](1))).toMap
    val per = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate").cast("timestamp"))
      .collect()
      .map(r => (r.getLong(1),
        if (day(r.getAs[java.sql.Timestamp](2)) - orderDay(r.getLong(0)) >
          graft.queries.Warehouse.shrinkLateDays) 1L else 0L))
      .groupBy(_._1).map { case (s, xs) => (s, xs.length.toLong, xs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    val micro = graft.queries.Warehouse.rateMicro
    val rm = per.map { case (_, n, k) => (k * micro) / n }
    val ns = rm.length.toLong
    val sr = rm.sum; val srr = rm.map(x => x * x).sum
    val m = sr.toDouble / (ns.toDouble * micro)
    val v = (ns * srr - sr * sr).toDouble /
      ((ns * (ns - 1)).toDouble * micro * micro)
    val fitOk = v > 0.0 && v < m * (1.0 - m)
    val alpha = if (fitOk) m * (m * (1.0 - m) / v - 1.0) else 0.0
    val beta = if (fitOk) (1.0 - m) * (m * (1.0 - m) / v - 1.0) else 0.0
    val rows = graft.queries.Warehouse.qSuppShrunkLateRate(spark, sf).collect()
    assert(rows.length === per.length)
    rows.zip(per).foreach { case (r, (s, n, k)) =>
      assert(r.getAs[Long]("s_suppkey") === s)
      assert(r.getAs[Long]("n_lines") === n)
      assert(r.getAs[Long]("n_late") === k)
      assert(r.getAs[Double]("raw_rate") === k.toDouble / n)
      assert(r.getAs[Boolean]("fit_ok") === fitOk)
      assert(r.getAs[Double]("alpha") === alpha)
      assert(r.getAs[Double]("beta") === beta)
      val shrunk = if (fitOk) (k.toDouble + alpha) / (n.toDouble + alpha + beta)
        else k.toDouble / n
      assert(r.getAs[Double]("shrunk_rate") === shrunk)
      if (fitOk) {
        // shrinkage pulls toward the fleet prior mean alpha/(alpha+beta)
        val prior = alpha / (alpha + beta)
        val raw = k.toDouble / n
        assert((shrunk - raw).abs <= (prior - raw).abs + 1e-12,
          "posterior mean lies between the raw rate and the prior mean")
      }
    }
  }

  test("jsd profiles: integer log-ratio replay; symmetric, bounded by ln 2") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), hour(col("ts")).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val prof = ev.groupBy(identity).map { case ((t, h), xs) => (t, h) -> xs.length.toLong }
    val tot = ev.groupBy(_._1).map { case (t, xs) => t -> xs.length.toLong }
    val types = tot.keys.toSeq.sorted
    def qlog(v: Long): Long = math.floor(math.log(v.toDouble) * 1e6).toLong
    val expected = (for {
      i <- types.indices; j <- (i + 1) until types.length
    } yield {
      val (ta, tb) = (types(i), types(j))
      val (n1, n2) = (tot(ta), tot(tb))
      var s1 = 0L; var s2 = 0L
      (0L until 24L).foreach { h =>
        val c1 = prof.getOrElse((ta, h), 0L); val c2 = prof.getOrElse((tb, h), 0L)
        val den = c1 * n2 + c2 * n1
        if (c1 > 0) s1 += c1 * (qlog(2 * c1 * n2) - qlog(den))
        if (c2 > 0) s2 += c2 * (qlog(2 * c2 * n1) - qlog(den))
      }
      (ta, tb) -> (n1, n2,
        (s1.toDouble / n1.toDouble + s2.toDouble / n2.toDouble) / 2.0 / 1e6)
    }).toMap
    val rows = Analytics.qEventProfileJsd(spark, sf).collect()
    assert(rows.map(r =>
      (r.getAs[String]("ta"), r.getAs[String]("tb"))).toSet === expected.keySet)
    rows.foreach { r =>
      val (n1, n2, jsd) = expected((r.getAs[String]("ta"), r.getAs[String]("tb")))
      assert(r.getAs[Long]("n1") === n1)
      assert(r.getAs[Long]("n2") === n2)
      assert(r.getAs[Double]("jsd_nats") === jsd)
      assert(jsd >= -1e-6 && jsd <= math.log(2.0) + 1e-6,
        s"JSD $jsd outside [0, ln 2]")
    }
  }

  test("markov stationary: scaled-integer 3-step replay; shares partition") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map { r =>
        val t = r.getAs[java.sql.Timestamp](1)
        (r.getLong(0), t.getTime * 1000 + (t.getNanos / 1000) % 1000,
          r.getLong(2), r.getString(3))
      }
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val s = xs.sortBy(x => (x._2, x._3)).map(_._4)
      s.zip(s.tail)
    }
    val n = trans.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val na = trans.groupBy(_._1).map { case (a, xs) => a -> xs.length.toLong }
    val types = na.keys.toSeq.sorted
    var pi = types.map(_ -> Analytics.markovScale).toMap
    (1 to 3).foreach { _ =>
      val inbox = n.toSeq.groupBy(_._1._2).map { case (b, es) =>
        b -> es.map { case ((a, _), c) => (pi(a) * c) / na(a) }.sum
      }
      pi = types.map(t => t -> inbox.getOrElse(t, 0L)).toMap
    }
    val emp = ev.groupBy(_._4).map { case (t, xs) => t -> xs.length.toLong }
    val piTot = types.map(pi).sum
    val empTot = types.map(t => emp(t)).sum
    val rows = Analytics.qEventMarkovStationary(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === types.toSet)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("pi_scaled") === pi(t))
      assert(r.getAs[Long]("n_emp") === emp(t))
      assert(r.getAs[Double]("stationary_share") === pi(t).toDouble / piTot)
      assert(r.getAs[Double]("empirical_share") === emp(t).toDouble / empTot)
    }
    val shares = rows.map(_.getAs[Double]("stationary_share")).sum
    assert(math.abs(shares - 1.0) < 1e-9, "stationary shares sum to one")
  }

  test("twonn: heap top-2 replay; Pareto-ratio estimator in a sane band") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.foldLeft(0.0)(_ + _)
    val sample = embs.filter(_._1 % Similarity.twonnSampleMod == 0)
    val per = sample.map { case (sid, se) =>
      val ds = embs.filter(_._1 != sid)
        .map { case (vid, e) => (d2(e, se), vid) }.sortBy(identity).take(2)
      (sid, ds.length, ds.head._1, ds.last._1)
    }
    val used = per.filter(p => p._2 == 2 && p._3 > 0.0).map { p =>
      math.floor(math.log(p._4) * 1e6).toLong -
        math.floor(math.log(p._3) * 1e6).toLong
    }
    val sumDq = used.sum
    val row = Similarity.qEmbTwonnId(spark, sf).head()
    assert(row.getAs[Long]("n_sample") === per.length.toLong)
    assert(row.getAs[Long]("n_used") === used.length.toLong)
    assert(row.getAs[Long]("sum_qlog_ratio") === sumDq)
    val id = (2.0 * used.length * 1e6) / sumDq
    assert(row.getAs[Double]("id_twonn") === id)
    assert(id > 0.0 && id <= Similarity.embDim * 2.0,
      s"intrinsic dimension $id outside sanity band for ${Similarity.embDim} ambient dims")
  }

  test("twonn per-cell: cell-local estimator replay over the engine's assignment") {
    // assignment comes from the engine's own (separately tested) probeCells
    // narrow fold; the ESTIMATOR is replayed locally per cell
    val embDf = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
    val centArr = Similarity.centroidArrayDf(spark, sf, None)
    val cellOf = Similarity.probeCells(embDf, centArr, 1)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.foldLeft(0.0)(_ + _)
    val byCell = embs.groupBy { case (vid, _) => cellOf(vid) }
    val expected = byCell.flatMap { case (cell, members) =>
      val per = members.filter(_._1 % Similarity.twonnSampleMod == 0)
        .map { case (sid, se) =>
          val ds = members.filter(_._1 != sid)
            .map { case (vid, e) => (d2(e, se), vid) }.sortBy(identity).take(2)
          (sid, ds.length, ds.headOption.map(_._1), ds.lastOption.map(_._1))
        }
        // a singleton-cell probe has NO scored rows in the engine (per_probe
        // derives from the pair join), so it must not count in n_sample here
        .filter(_._2 > 0)
      if (per.isEmpty) None
      else {
        val used = per.filter(p => p._2 == 2 && p._3.get > 0.0).map { p =>
          math.floor(math.log(p._4.get) * 1e6).toLong -
            math.floor(math.log(p._3.get) * 1e6).toLong
        }
        val sumDq = used.sum
        if (used.isEmpty || sumDq <= 0) None
        else Some(cell -> (per.length.toLong, used.length.toLong, sumDq,
          (2.0 * used.length * 1e6) / sumDq))
      }
    }
    val out = Similarity.qEmbTwonnCell(spark, sf).collect()
      .map(r => r.getAs[Int]("cell") -> (r.getAs[Long]("n_sample"),
        r.getAs[Long]("n_used"), r.getAs[Long]("sum_qlog_ratio"),
        r.getAs[Double]("id_twonn"))).toMap
    assert(out === expected, "per-cell estimator == local replay per cell")
    assert(out.nonEmpty)
    // every probe lands in exactly one cell: sample conservation
    val nProbes = embs.count(_._1 % Similarity.twonnSampleMod == 0).toLong
    assert(out.values.map(_._1).sum <= nProbes)
  }

  test("dead stock: age-in-weeks replay; dead set is the old tail") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val brand = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_shipdate").cast("timestamp")).collect()
      .map(r => (r.getLong(0), day(r.getAs[java.sql.Timestamp](1))))
    val dMax = li.map(_._2).max
    val ages = li.groupBy(_._1).toSeq.map { case (pk, xs) =>
      (brand(pk), (dMax - xs.map(_._2).max) / graft.queries.Warehouse.xyzWeekDays)
    }
    val expected = ages.groupBy(_._1).map { case (b, xs) =>
      b -> (xs.length.toLong,
        xs.count(_._2 >= graft.queries.Warehouse.deadStockWeeks).toLong,
        xs.map(_._2).sum, xs.map(_._2).max)
    }
    val rows = graft.queries.Warehouse.qPartDeadStock(spark, sf).collect()
    assert(rows.map(_.getAs[String]("p_brand")).toSet === expected.keySet)
    rows.foreach { r =>
      val (np, nd, sumAge, maxAge) = expected(r.getAs[String]("p_brand"))
      assert(r.getAs[Long]("n_parts") === np)
      assert(r.getAs[Long]("n_dead") === nd)
      assert(r.getAs[Double]("dead_share") === nd.toDouble / np)
      assert(r.getAs[Double]("mean_age_w") === sumAge.toDouble / np)
      assert(r.getAs[Long]("max_age_w") === maxAge)
      assert(nd <= np)
    }
  }

  test("arch effect: doubled-midrank Spearman replay on squared changes") {
    def day(ts: java.sql.Timestamp): Long = {
      val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      Math.floorDiv(us, 86400000000L)
    }
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => ((r.getString(0), day(r.getAs[java.sql.Timestamp](1))),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case ((t, d), xs) =>
        ((t, d), (xs.map(_._2).sum * 100).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
      }
    val expected = daily.keys.map(_._1).toSeq.distinct.flatMap { t =>
      val sq = daily.collect {
        case ((tt, d), x) if tt == t && daily.contains((t, d - 1)) =>
          val dd = x - daily((t, d - 1)); (d, dd * dd)
      }.toSeq
      // doubled midranks over the squared-change values
      val byV = sq.groupBy(_._2).map { case (v, xs) => (v, xs.length.toLong) }
        .toSeq.sortBy(_._1)
      var cum = 0L
      val r2of = byV.map { case (v, tt) =>
        val r = 2 * cum + (tt + 1); cum += tt; v -> r
      }.toMap
      val ranked = sq.map { case (d, v) => (d, r2of(v)) }.toMap
      val pairs = ranked.collect {
        case (d, a) if ranked.contains(d - 1) => (a, ranked(d - 1))
      }.toSeq
      val n = pairs.length.toLong
      if (n < 3) None
      else {
        val sa = pairs.map(_._1).sum; val sb = pairs.map(_._2).sum
        val cab = n * pairs.map(p => p._1 * p._2).sum - sa * sb
        val caa = n * pairs.map(p => p._1 * p._1).sum - sa * sa
        val cbb = n * pairs.map(p => p._2 * p._2).sum - sb * sb
        if (caa <= 0 || cbb <= 0) None
        else Some(t -> (n,
          cab.toDouble / (math.sqrt(caa.toDouble) * math.sqrt(cbb.toDouble))))
      }
    }.toMap
    val rows = Analytics.qEventArchEffect(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet === expected.keySet)
    rows.foreach { r =>
      val (n, rho) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Double]("rho_sq_changes") === rho)
      assert(r.getAs[Boolean]("clustered") === (rho > 2.0 / math.sqrt(n.toDouble)))
      assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9)
    }
  }

  test("collocations: exact G2 contingency replay on quantized logs") {
    def qlog(v: Long): Long = math.floor(math.log(v.toDouble) * 1e6).toLong
    val bigrams = Tables.documents(spark, sf)
      .select(col("text")).collect()
      .flatMap { r =>
        val t = r.getString(0).split(" ", -1)
        t.zip(t.tail)
      }
    val n = bigrams.length.toLong
    val cab = bigrams.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val ca = bigrams.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    val cb = bigrams.groupBy(_._2).map { case (k, xs) => k -> xs.length.toLong }
    def cell(k: Long, r: Long, c: Long): Long =
      if (k > 0) k * (qlog(k) + qlog(n) - qlog(r) - qlog(c)) else 0L
    val scored = cab.filter(_._2 >= TextOps.collocMinCount).map { case ((a, b), k11) =>
      val (ra, cbb) = (ca(a), cb(b))
      val g2 = 2 * (cell(k11, ra, cbb) +
        cell(ra - k11, ra, n - cbb) +
        cell(cbb - k11, n - ra, cbb) +
        cell(n - ra - cbb + k11, n - ra, n - cbb))
      ((a, b), (k11, ra, cbb, g2))
    }
    val top = scored.toSeq.sortBy { case ((a, b), (_, _, _, g2)) => (-g2, a, b) }
      .take(TextOps.collocTopN)
    val rows = TextOps.qDocCollocations(spark, sf).collect()
    assert(rows.length === top.length)
    rows.zip(top).foreach { case (r, ((a, b), (k11, ra, cbb, g2))) =>
      assert(r.getAs[String]("ta") === a)
      assert(r.getAs[String]("tb") === b)
      assert(r.getAs[Long]("c_ab") === k11)
      assert(r.getAs[Long]("c_a") === ra)
      assert(r.getAs[Long]("c_b") === cbb)
      assert(r.getAs[Long]("n_bigrams") === n)
      assert(r.getAs[Long]("g2_micro") === g2)
      assert(r.getAs[Double]("g2") === g2.toDouble / 1e6)
      assert(g2 >= 0L || k11 * n < ra * cbb,
        "independence-or-better pairs only go negative when observed < expected")
    }
  }

  test("bpe encode: per-doc token-id sequences replay the trained merges end-to-end") {
    // re-train the 3 rounds locally (loop-form greedy, the merges-replay
    // ground truth), then assign frequency-ordered ids and encode
    var segs: Map[String, Vector[String]] = Tables.documents(spark, sf)
      .select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).distinct
      .map(w => w -> w.toVector.map(_.toString)).toMap
    val wcount = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).groupBy(identity)
      .map { case (w, g) => w -> g.length.toLong }
    for (_ <- 1 to TextOps.bpeMergeRounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- segs; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + wcount(w)
      }
      val ((a, b), _) = counts.toSeq.minBy { case ((x, y), c) => (-c, s"$x $y") }
      segs = segs.map { case (w, syms) =>
        val m = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            m += (a + b); i += 2
          } else { m += syms(i); i += 1 }
        }
        w -> m.toVector
      }
    }
    val freq = scala.collection.mutable.Map.empty[String, Long]
    for ((w, syms) <- segs; s <- syms) freq(s) = freq.getOrElse(s, 0L) + wcount(w)
    val ids = freq.toSeq.sortBy { case (s, f) => (-f, s) }
      .zipWithIndex.map { case ((s, _), i) => s -> (i + 1).toLong }.toMap
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).split(" ", -1).toSeq.flatMap(w => segs(w))
        (r.getLong(0), toks.length.toLong, toks.map(ids).mkString(" "))
      }.sortBy(_._1).toSeq
    val out = TextOps.qDocBpeEncode(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("token_ids"))).toSeq
    assert(out === expected, "distributed encode == local replay")
    // conservation: corpus token total equals the fertility-weighted sum
    assert(out.map(_._2).sum ===
      wcount.map { case (w, c) => c * segs(w).length }.sum)
  }

  test("bpe transfer: frozen base-trained merges replay; fertility vs base ratio") {
    def mergePair(syms: Vector[String], a: String, b: String): Vector[String] = {
      val m = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          m += (a + b); i += 2
        } else { m += syms(i); i += 1 }
      }
      m.toVector
    }
    val docRows = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val baseWc = docRows.filter(_._1 != TextOps.bpeHoldout)
      .flatMap(_._2.split(" ", -1)).groupBy(identity)
      .map { case (w, g) => w -> g.length.toLong }
    var segs: Map[String, Vector[String]] =
      baseWc.keys.map(w => w -> w.toVector.map(_.toString)).toMap
    val rules = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 1 to TextOps.bpeMergeRounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- segs; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + baseWc(w)
      }
      val ((a, b), _) = counts.toSeq.minBy { case ((x, y), c) => (-c, s"$x $y") }
      rules += ((a, b))
      segs = segs.map { case (w, syms) => w -> mergePair(syms, a, b) }
    }
    def nSyms(w: String): Long =
      rules.foldLeft(w.toVector.map(_.toString)) {
        case (sy, (a, b)) => mergePair(sy, a, b)
      }.length.toLong
    val bySrc = docRows
      .flatMap { case (s, t) => t.split(" ", -1).map(w => (s, w)) }
      .groupBy(identity).map { case ((s, w), g) => (s, w, g.length.toLong) }
    val joined = bySrc.map { case (s, w, c) => (s, c, nSyms(w)) }
    val bw = joined.filter(_._1 != TextOps.bpeHoldout).map(_._2).sum
    val bt = joined.filter(_._1 != TextOps.bpeHoldout).map(t => t._2 * t._3).sum
    val expected = joined.groupBy(_._1).map { case (s, g) =>
      val nw = g.map(_._2).sum
      val nt = g.map(t => t._2 * t._3).sum
      (s, s == TextOps.bpeHoldout, nw, nt,
        nt.toDouble / nw.toDouble,
        (nt.toDouble / nw.toDouble) / (bt.toDouble / bw.toDouble))
    }.toSeq.sortBy(_._1)
    val out = TextOps.qDocBpeTransfer(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Boolean]("held_out"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("fertility"), r.getAs[Double]("fert_vs_base"))).toSeq
    assert(out === expected, "frozen-merge transfer == local replay")
    // exactly one held-out row; base rows' weighted mean ratio is 1 by
    // construction (their fertilities average to the base fertility)
    assert(out.count(_._2) === 1)
    out.foreach(r => assert(r._5 > 0.0 && r._6 > 0.0))
  }

  test("epoch shuffle: exact Spearman between consecutive epoch orders replays") {
    def h31(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP
    }
    val ids = Tables.documents(spark, sf).select(col("doc_id")).collect()
      .map(_.getLong(0))
    def keyOf(id: Long, e: Int): Long =
      if (e == 0) id
      else (h31(id.toString) * (1103515245L + e)) % Exact.HashP
    // global per-epoch rank by (key, doc_id) — the two-level decomposition
    // must equal this naive global sort
    val posOf = (0 to TextOps.shuffleEpochs).map { e =>
      e -> ids.map(id => (keyOf(id, e), id)).sorted.zipWithIndex
        .map { case ((_, id), i) => id -> (i + 1).toLong }.toMap
    }.toMap
    val expected = (0 until TextOps.shuffleEpochs).map { e =>
      val n = ids.length.toLong
      val sumD2 = ids.map { id =>
        val d = posOf(e)(id) - posOf(e + 1)(id); d * d
      }.sum
      val rho =
        if (n < 2) None
        else Some(1.0 - 6.0 * sumD2.toDouble / (n * (n * n - 1)).toDouble)
      val dec = rho.exists(r => math.abs(r) * math.sqrt((n - 1).toDouble) < 3.0)
      (e, e + 1, n, sumD2, rho, dec)
    }
    def optD(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
    val out = TextOps.qDocEpochShuffle(spark, sf).collect()
      .map(r => (r.getAs[Int]("epoch_a"), r.getAs[Int]("epoch_b"),
        r.getAs[Long]("n"), r.getAs[Long]("sum_d2"), optD(r, "spearman"),
        r.getAs[Boolean]("decorrelated"))).toSeq
    assert(out === expected, "two-level epoch ranks == naive global-sort replay")
    // hashed epochs decorrelate from the natural order and from each other
    out.foreach { case (a, b, n, _, rho, dec) =>
      assert(dec, s"epochs $a->$b correlated: rho=$rho n=$n")
    }
  }

  test("epoch shuffle: occupancy-triggered rank coarsening replays; inert below the bound") {
    def h31(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP
    }
    def optD(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
    val n = 1500L
    val docs = spark.range(0, n).select(col("id").as("doc_id"))

    // below the trigger the bound's VALUE is inert: two different bounds
    // that both exceed n produce byte-identical exact-path output
    val exactDf = TextOps.epochShuffleFrom(docs, exactBound = n)
    val exactRows = exactDf.collect()
    assert(exactRows.toSeq === TextOps.epochShuffleFrom(docs, exactBound = 100000L)
      .collect().toSeq, "exact path must not depend on the bound's value")

    // force the coarse branch (n > 499) and replay it from first principles
    val coarseDf = TextOps.epochShuffleFrom(docs, exactBound = 499L)
    assert(coarseDf.schema.map(f => (f.name, f.dataType)) ===
      exactDf.schema.map(f => (f.name, f.dataType)),
      "coarse path must keep the exact path's output contract")
    def keyOf(id: Long, e: Int): Long =
      if (e == 0) id else (h31(id.toString) * (1103515245L + e)) % Exact.HashP
    val ids = (0L until n).toArray
    // coarse rank: g = ((pos−1)·G) div n, pos = 1-based (key, id) rank
    val gposOf = (0 to TextOps.shuffleEpochs).map { e =>
      e -> ids.map(id => (keyOf(id, e), id)).sorted.zipWithIndex
        .map { case ((_, id), i) => id -> (i.toLong * TextOps.epochCoarseGrid) / n }
        .toMap
    }.toMap
    val expected = (0 until TextOps.shuffleEpochs).map { e =>
      val ps = ids.map(id => (gposOf(e)(id), gposOf(e + 1)(id)))
      val sumD2 = ps.map { case (a, b) => val d = a - b; d * d }.sum
      val sa = ps.map(_._1).sum; val sb = ps.map(_._2).sum
      val saa = ps.map(p => p._1 * p._1).sum
      val sbb = ps.map(p => p._2 * p._2).sum
      val sab = ps.map(p => p._1 * p._2).sum
      // DECIMAL(19,0) combinations, one closing double expression — the
      // engine's exact shape (all values < 2^53 here, so toDouble is exact)
      val cov = BigInt(n) * BigInt(sab) - BigInt(sa) * BigInt(sb)
      val va = BigInt(n) * BigInt(saa) - BigInt(sa) * BigInt(sa)
      val vb = BigInt(n) * BigInt(sbb) - BigInt(sb) * BigInt(sb)
      val rho = if (va <= 0 || vb <= 0) None
        else Some(cov.toDouble / math.sqrt(va.toDouble * vb.toDouble))
      val dec = rho.exists(r => math.abs(r) * math.sqrt((n - 1).toDouble) < 3.0)
      (e, e + 1, n, sumD2, rho, dec)
    }
    val out = coarseDf.collect()
      .map(r => (r.getAs[Int]("epoch_a"), r.getAs[Int]("epoch_b"),
        r.getAs[Long]("n"), r.getAs[Long]("sum_d2"), optD(r, "spearman"),
        r.getAs[Boolean]("decorrelated"))).toSeq
    assert(out === expected, "coarse grid ranks == naive replay")
    // the grid Pearson tracks the exact Spearman (G ≫ n ⇒ near-lossless)
    val exactRho = exactRows.map(r =>
      r.getAs[Int]("epoch_a") -> optD(r, "spearman")).toMap
    out.foreach { case (a, _, _, _, rho, _) =>
      assert(math.abs(rho.get - exactRho(a).get) < 0.01,
        s"coarse rho ${rho.get} drifted from exact ${exactRho(a).get} at epoch $a")
    }

    // the id contract fails loudly, not in a comment (r11 advice)
    val bad = spark.range(-5, 5).select(col("id").as("doc_id"))
    val ex = intercept[IllegalArgumentException] {
      TextOps.epochShuffleFrom(bad)
    }
    assert(ex.getMessage.contains("doc_id contract"))
    spark.catalog.clearCache()
  }

  test("ivf decontam: cell-routed screen replays; planted re-embeddings flagged") {
    def dotSeq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
      .sortBy(_._1)
    val eval = embs.filter(_._1 % Similarity.semanticEvalMod == 0)
    val planted = eval.map { case (id, l, e) =>
      (-id - 1, l, e.zipWithIndex.map { case (x, i) =>
        if (i % 2 == 0) x + 0.02 else x - 0.02 })
    }
    val train = embs.filter(_._1 % Similarity.semanticEvalMod != 0) ++ planted
    // the corpus-side quantizer: per-label means, vec_id-ordered folds
    val cents = train.groupBy(_._2).map { case (l, xs) =>
      val s = xs.sortBy(_._1)
      l -> Array.tabulate(64)(i => s.map(_._3(i)).foldLeft(0.0)(_ + _) / s.length)
    }
    def cellsOf(e: Array[Double], n: Int): Seq[Int] =
      cents.toSeq.map { case (l, cv) =>
        ((dotSeq(e, e) - 2 * dotSeq(e, cv)) + dotSeq(cv, cv), l)
      }.sorted.take(n).map(_._2)
    val tCell = train.map { case (id, _, e) =>
      (id, cellsOf(e, 1).head, e, math.sqrt(dotSeq(e, e)))
    }
    val expected = (for {
      (eid, _, qe) <- eval.toSeq
      qn = math.sqrt(dotSeq(qe, qe))
      ec <- cellsOf(qe, 2)
      (tid, tc, te, tn) <- tCell if tc == ec
      cos = dotSeq(qe, te) / (qn * tn)
      if cos >= Similarity.semanticTau
    } yield (tid, eid, cos)).toSet
    val out = Similarity.qEmbDecontamIvf(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("eval_vec_id"),
        r.getAs[Double]("cosine"))).toSet
    assert(out === expected, "cell-routed screen == naive cell replay")
    // the planted re-embeddings (zero shared text surface — invisible to
    // both token gates by construction) are caught semantically; a small
    // cross-cell tail may clip (the family's documented recall knob)
    val found = eval.count { case (eid, _, _) =>
      out.exists(p => p._1 == -eid - 1 && p._2 == eid)
    }
    assert(found.toDouble / eval.length >= 0.9,
      s"planted recall $found/${eval.length} below 90%")
    // and nothing else is: organic same-cell cosines top out ≈ 0.45,
    // a 2× margin below the threshold
    assert(out.forall(_._1 < 0), s"organic pair above tau: ${out.find(_._1 >= 0)}")
    spark.catalog.clearCache()
  }

  test("ivf rebuild: drift trigger branches; merge law holds on both branches") {
    val raw = Tables.embeddings(spark, sf)
    def side(newSide: Boolean, shift: Double) = raw
      .filter(if (newSide) col("vec_id") % Similarity.ivfIncrMod === 0
        else col("vec_id") % Similarity.ivfIncrMod =!= 0)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double") + shift).as("e"))
    val nTot = raw.count()

    // UNDRIFTED arrivals (same distribution): the trigger must not fire,
    // the frozen index stands, and the merged stats still equal a full
    // union recompute (the E122 merge law on the no-rebuild branch)
    val calm = Similarity.ivfRebuildFrom(spark, side(false, 0.0), side(true, 0.0))
      .collect()
    assert(calm.forall(r => !r.getAs[Boolean]("rebuilt")),
      "undrifted batch must not trigger a rebuild")
    assert(calm.forall(_.getAs[Boolean]("merged_equals_full")))
    assert(calm.map(_.getAs[Long]("n_full")).sum === nTot)

    // DRIFTED arrivals (the registry fixture): trigger fires, quantizer
    // retrained on the union, merge law holds under the NEW quantizer
    val drifted = Similarity.qEmbIvfRebuild(spark, sf).collect()
    assert(drifted.forall(_.getAs[Boolean]("rebuilt")))
    assert(drifted.forall(_.getAs[Boolean]("merged_equals_full")))
    assert(drifted.map(_.getAs[Long]("n_full")).sum === nTot)

    // the rebuild is WARRANTED: the drifted batch's mean assignment
    // distance under the retrained union quantizer beats the frozen one
    val batchDrifted = side(true, Similarity.ivfDriftShift)
    def meanD(q: org.apache.spark.sql.DataFrame): Double = {
      val r = Similarity.ivfCellStats(batchDrifted, q)
        .agg(sum(col("sd")).as("sd"), sum(col("n")).as("n")).collect()(0)
      r.getAs[Long]("sd").toDouble / r.getAs[Long]("n")
    }
    val frozenQ = Similarity.centroidArrayOfE(side(false, 0.0), None)
    val unionQ = Similarity.centroidArrayOfE(
      side(false, 0.0).unionAll(batchDrifted), None)
    assert(meanD(unionQ) < meanD(frozenQ),
      "union retrain should give drifted arrivals a nearer home")
    spark.catalog.clearCache()
  }

  test("fuzzy decontam: banding+verify replay; planted paraphrases flagged, invisible to the exact gate") {
    def h31(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP
    }
    def norm(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    def grams(text: String, n: Int): Set[Long] = {
      val toks = text.split(" ")
      val m = math.max(toks.length - (n - 1), 1)
      (1 to m).map(i =>
        toks.slice(i - 1, math.min(i - 1 + n, toks.length)).mkString(" "))
        .map(h31).toSet
    }
    def perturb(text: String): String =
      text.split(" ").zipWithIndex.map { case (t, i) =>
        if (i % 24 == 6) "xnoise"
        else if (i % 4 == 0) t.toUpperCase + "," else t
      }.mkString(" ")
    def bandKeys(hs: Set[Long]): Set[(Int, String)] = {
      val mins = Dedup.decontamCoefs.map { case (a, b) =>
        hs.map(h => (h * a + b) % Exact.HashP).min
      }
      (0 until Dedup.decontamBands).map { b =>
        b -> (0 until Dedup.decontamRowsPerBand)
          .map(r => mins(b * Dedup.decontamRowsPerBand + r)).mkString("_")
      }.toSet
    }
    case class P(hs: Set[Long], hs8: Set[Long], bands: Set[(Int, String)])
    def prep(t: String): P = {
      val hs = grams(norm(t), 3)
      P(hs, grams(t, Dedup.decontamN), bandKeys(hs))
    }
    val docsRows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val evalDocs = docsRows.filter(_._1 % 50 == 0)
    val trainDocs = docsRows.filter(_._1 % 50 != 0) ++
      evalDocs.map { case (id, t) => (-id - 1, perturb(t)) }
    val tP = trainDocs.map { case (id, t) => id -> prep(t) }.toMap
    val eP = evalDocs.map { case (id, t) => id -> prep(t) }.toMap
    val expected = (for {
      (tid, tp) <- tP.toSeq; (eid, ep) <- eP.toSeq
      if (tp.bands & ep.bands).nonEmpty
      j = (tp.hs & ep.hs).size.toDouble / (tp.hs | ep.hs).size.toDouble
      if j >= Dedup.jaccardThreshold
    } yield (tid, eid, j, (tp.hs8 & ep.hs8).nonEmpty)).toSet
    val out = Dedup.qDocDecontamFuzzy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toSet
    assert(out === expected, "banded candidates + Jaccard verify == naive replay")
    // every planted paraphrase is flagged against its own source...
    evalDocs.foreach { case (eid, _) =>
      assert(out.exists { case (t, e, _, _) => t == -eid - 1 && e == eid },
        s"planted paraphrase of eval doc $eid not flagged")
    }
    // ...while the exact 8-gram gate (q_doc_decontam's check) PROVABLY
    // cannot see any of them: zero shared raw 8-grams, per construction
    // of the every-4th-token case/punct noise
    evalDocs.foreach { case (eid, _) =>
      assert((tP(-eid - 1).hs8 & eP(eid).hs8).isEmpty,
        s"planted paraphrase of $eid shares a raw 8-gram — the exact gate would catch it")
    }
    out.filter(_._1 < 0).foreach { case (t, _, _, caught) =>
      assert(!caught, s"planted doc $t marked caught_exact")
    }
    spark.catalog.clearCache()
  }

  test("decontam verdict: each planted family caught and attributed to exactly its gate") {
    val rows = Dedup.qDocDecontamVerdict(spark, sf).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val nDocs = Tables.documents(spark, sf).count()
    val evalIds = (0L until nDocs by 50L).toSeq

    // structural invariants: contaminated == OR of the gates; the funnel
    // attributes the FIRST firing gate in exact → fuzzy → semantic order
    rows.foreach { r =>
      val (x, f, s) = (r.getAs[Boolean]("hit_exact"),
        r.getAs[Boolean]("hit_fuzzy"), r.getAs[Boolean]("hit_semantic"))
      assert(r.getAs[Boolean]("contaminated") === (x || f || s))
      val want = if (x) "exact" else if (f) "fuzzy" else if (s) "semantic" else "clean"
      assert(r.getAs[String]("flag_reason") === want)
    }

    // verbatim wrapped copies (−3d−1): the exact gate fires on every one
    // and attribution funnels to it; the fuzzy gate ALSO sees them (the
    // gate-overlap quantification the composed output exists for)
    evalIds.foreach { d =>
      val v = byId(-3 * d - 1)
      assert(v.getAs[Boolean]("hit_exact"), s"verbatim plant of $d missed by exact")
      assert(v.getAs[String]("flag_reason") === "exact")
      assert(!v.getAs[Boolean]("hit_semantic"), "text plant has no embedding row")
    }
    assert(evalIds.count(d => byId(-3 * d - 1).getAs[Boolean]("hit_fuzzy")) * 10 >=
      evalIds.size * 9, "fuzzy gate should overlap the verbatim plants")

    // perturbed copies (−3d−2): invisible to the exact gate by
    // construction; fuzzy recall ≥ 90% (banding miss ~0.6% at J≈0.78)
    // and every catch attributed to fuzzy
    val pert = evalIds.map(d => byId(-3 * d - 2))
    pert.foreach { r =>
      assert(!r.getAs[Boolean]("hit_exact"), "perturbed plant shares a raw 8-gram")
      assert(!r.getAs[Boolean]("hit_semantic"))
    }
    val pertCaught = pert.filter(_.getAs[Boolean]("hit_fuzzy"))
    assert(pertCaught.size * 10 >= pert.size * 9,
      s"fuzzy recall ${pertCaught.size}/${pert.size} below 90%")
    pertCaught.foreach(r => assert(r.getAs[String]("flag_reason") === "fuzzy"))

    // re-embedded vectors (−3v−3): zero text surface — only the semantic
    // gate can fire; ≥ 90% recall (nprobe-2 cell clipping), attributed
    val nVecs = Tables.embeddings(spark, sf).count()
    val sem = (0L until nVecs by 50L).map(v => byId(-3 * v - 3))
    sem.foreach { r =>
      assert(!r.getAs[Boolean]("hit_exact") && !r.getAs[Boolean]("hit_fuzzy"),
        "vector plant has no text row")
    }
    val semCaught = sem.filter(_.getAs[Boolean]("hit_semantic"))
    assert(semCaught.size * 10 >= sem.size * 9,
      s"semantic recall ${semCaught.size}/${sem.size} below 90%")
    semCaught.foreach(r => assert(r.getAs[String]("flag_reason") === "semantic"))

    // the clean majority stays clean: real (non-planted) train docs
    val real = rows.filter(_.getAs[Long]("doc_id") >= 0)
    assert(real.count(_.getAs[String]("flag_reason") == "clean") * 10 >
      real.length * 9, "organic corpus should be overwhelmingly clean")
    spark.catalog.clearCache()
  }

  test("triplet mining: per-anchor in-cell min/max cosine replays exactly") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // quantizer over ALL vectors (the engine's centroidArrayDf default)
    val cents = embs.groupBy(_._2).map { case (lbl, ms) =>
      val sorted = ms.sortBy(_._1)
      lbl -> Array.tabulate(sorted.head._3.length) { i =>
        sorted.foldLeft(0.0)((acc, m) => acc + m._3(i)) / sorted.length
      }
    }.toSeq.sortBy(_._1)
    val cc = cents.map { case (l, cv) => l -> dot(cv, cv) }.toMap
    val assigned = embs.map { case (vid, lbl, v) =>
      val ee = dot(v, v)
      val (_, cell) = cents.map { case (l, cv) =>
        ((ee - 2 * dot(v, cv)) + cc(l), l)
      }.minBy(identity)
      (vid, lbl, v, cell, math.sqrt(ee))
    }
    val byCell = assigned.groupBy(_._4)
    val expected = assigned
      .filter(_._1 % Similarity.tripletAnchorMod == 0)
      .flatMap { case (aid, albl, av, cell, anorm) =>
        val mates = byCell(cell).filter(_._1 != aid)
        // a singleton-cell anchor has no scored rows in the engine (the
        // TwoNN-replay lesson) — it must not appear here either
        if (mates.isEmpty) None
        else Some {
        val cos = mates.map { case (_, lbl, v, _, nrm) =>
          (lbl, dot(av, v) / (anorm * nrm))
        }
        val pos = cos.filter(_._1 == albl).map(_._2)
        val neg = cos.filter(_._1 != albl).map(_._2)
        val margin = for (p <- pos.sorted.headOption; n <- neg.sorted.lastOption)
          yield n - p
        (aid, (albl, cell, pos.length.toLong, neg.length.toLong,
          pos.sorted.headOption, neg.sorted.lastOption, margin,
          margin.exists(_ > 0.0)))
        }
      }.toMap
    def optD(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
    val out = Similarity.qEmbTripletMining(spark, sf).collect()
      .map(r => r.getAs[Long]("anchor_id") -> ((r.getAs[Int]("label"),
        r.getAs[Int]("cell"), r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
        optD(r, "hard_pos_cos"), optD(r, "hard_neg_cos"), optD(r, "margin"),
        r.getAs[Boolean]("violates")))).toMap
    assert(out === expected, "per-anchor hard triplet terms == local replay")
    assert(out.nonEmpty)
    // a violated triplet's negative really is closer than its positive
    out.values.foreach { case (_, _, _, _, p, n, m, viol) =>
      if (viol) assert(n.get > p.get && m.get > 0.0)
    }
  }

  test("ivf incremental: frozen-quantizer batch assignment replays the per-cell merge") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    // frozen quantizer: per-label centroids over BASE rows only, via the
    // engine's sequential vec_id-order fold
    val base = embs.filter(_._1 % Similarity.ivfIncrMod != 0)
    val cents = base.groupBy(_._2).map { case (lbl, ms) =>
      val sorted = ms.sortBy(_._1)
      lbl -> Array.tabulate(sorted.head._3.length) { i =>
        sorted.foldLeft(0.0)((acc, m) => acc + m._3(i)) / sorted.length
      }
    }.toSeq.sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cc = cents.map { case (l, cv) => l -> dot(cv, cv) }.toMap
    val assigned = embs.map { case (vid, _, v) =>
      val ee = dot(v, v)
      val (d, cell) = cents.map { case (l, cv) =>
        ((ee - 2 * dot(v, cv)) + cc(l), l)
      }.minBy(identity)
      (vid, cell, math.floor(d * 1e6).toLong)
    }
    def isNew(vid: Long): Boolean = vid % Similarity.ivfIncrMod == 0
    val expected = assigned.groupBy(_._2).map { case (cell, xs) =>
      val nb = xs.count(x => !isNew(x._1)).toLong
      val nn = xs.count(x => isNew(x._1)).toLong
      val sb = xs.filter(x => !isNew(x._1)).map(_._3).sum
      val sn = xs.filter(x => isNew(x._1)).map(_._3).sum
      cell -> ((nb, nn, nb + nn, nn.toDouble / (nb + nn).toDouble,
        if (nb == 0) None else Some(sb.toDouble / nb / 1000000.0),
        if (nn == 0) None else Some(sn.toDouble / nn / 1000000.0)))
    }
    def optD(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
    val out = Similarity.qEmbIvfIncremental(spark, sf).collect()
      .map(r => r.getAs[Int]("cell") -> ((r.getAs[Long]("n_base"),
        r.getAs[Long]("n_new"), r.getAs[Long]("n_total"),
        r.getAs[Double]("share_new"),
        optD(r, "mean_d_base"), optD(r, "mean_d_new")))).toMap
    assert(out === expected, "per-cell incremental merge == local frozen-quantizer replay")
    // conservation: every vector lands in exactly one cell
    assert(out.values.map(_._3).sum === embs.length.toLong)
    assert(out.values.map(_._2).sum === embs.count(x => isNew(x._1)).toLong)
  }
}

/** Tuple adapters keeping the specs free of Row plumbing. */
private object Quality2Bridge {
  def tClose(spark: org.apache.spark.sql.SparkSession, sf: String): Seq[(Int, Long, Double, Boolean)] =
    graft.etl.Quality.qTCloseCustomer(spark, sf).collect().toSeq
      .map(r => (r.getAs[Int]("c_nationkey"), r.getAs[Long]("n"),
        r.getAs[Double]("tvd"), r.getAs[Boolean]("t_ok")))
}

private object Layout2Bridge {
  def skew(spark: org.apache.spark.sql.SparkSession, sf: String): Seq[(String, Long, Long, Long, Long, Long, Long)] =
    graft.etl.Layout.qSkewDiagnosis(spark, sf).collect().toSeq
      .map(r => (r.getAs[String]("rel"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_keys"), r.getAs[Long]("max_freq"),
        r.getAs[Long]("p50_freq"), r.getAs[Long]("p99_freq"),
        r.getAs[Long]("salt_factor")))
}

private object Graph2Bridge {
  def linkpred(spark: org.apache.spark.sql.SparkSession, sf: String): Seq[(Long, Long, Long, Long, Long, Double)] =
    Graph.qGraphLinkpred(spark, sf).collect().toSeq
      .map(r => (r.getAs[Long]("s_a"), r.getAs[Long]("s_b"),
        r.getAs[Long]("common"), r.getAs[Long]("deg_a"),
        r.getAs[Long]("deg_b"), r.getAs[Double]("jaccard")))
}

class UnigramLmSpec extends graft.SparkSuite {

  test("unigram-LM: pure-Scala hard-EM replay matches the lattice op on a structured corpus") {
    val spark0 = spark
    import spark0.implicits._
    // morpheme-structured corpus: 'ana'/'ban'/'dana'-style repeats so
    // multi-char pieces genuinely beat the all-chars segmentation — the
    // i.i.d. testdata vocabulary can't certify piece adoption
    val wordCounts: Map[String, Long] = Map(
      "banana" -> 9L, "bandana" -> 7L, "cabana" -> 6L, "anaban" -> 5L,
      "nabana" -> 4L, "ana" -> 8L, "ban" -> 6L, "can" -> 3L,
      "anana" -> 2L, "dana" -> 2L, "x" -> 1L, "qzqz" -> 1L)
    val words = wordCounts.toSeq.toDF("word", "wcount")
    val (segDf, cntDf) = TextOps.uniTrainFromWords(words)
    val got = segDf.collect()
      .map(r => r.getAs[String]("word") ->
        ((r.getAs[Int]("np"), r.getAs[String]("seg")))).toMap
    val gotCnt = cntDf.collect()
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("cnt")).toMap

    // ---- pure-Scala reference: same seed, same costs, same DP tie-break
    def q(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    val seed = scala.collection.mutable.Map.empty[String, Long]
    for ((w, c) <- wordCounts; i <- 0 until w.length;
         l <- 1 to math.min(TextOps.uniMaxPieceLen, w.length - i)) {
      val p = w.substring(i, i + l)
      seed(p) = seed.getOrElse(p, 0L) + c
    }
    val chars = seed.filter(_._1.length == 1).toMap
    val multi0 = seed.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, f) => (-f, p) }.take(TextOps.uniSeedBudget).toMap
    def costs(vocab: Map[String, Long]): Map[String, Long] = {
      val t = vocab.values.sum
      val v = vocab.size.toLong
      vocab.map { case (p, f) => p -> (q(t + v) - q(f + 1)) }
    }
    def segment(w: String, cost: Map[String, Long]): (Int, String) = {
      val best = Array.fill[(Long, Int, String)](w.length + 1)(null)
      best(0) = (0L, 0, "")
      for (r <- 1 to w.length) {
        var b: (Long, Int, String) = null
        for (s <- 1 to math.min(TextOps.uniMaxPieceLen, r)) {
          cost.get(w.substring(r - s, r)).foreach { pc =>
            val prev = best(r - s)
            val cand = (prev._1 + pc, prev._2 + 1,
              prev._3 + " " + w.substring(r - s, r))
            if (b == null || Ordering[(Long, Int, String)].lt(cand, b)) b = cand
          }
        }
        best(r) = b
      }
      (best(w.length)._2, best(w.length)._3.trim)
    }
    def estep(cost: Map[String, Long])
        : (Map[String, (Int, String)], Map[String, Long]) = {
      val segs = wordCounts.keys.map(w => w -> segment(w, cost)).toMap
      val cnt = scala.collection.mutable.Map.empty[String, Long]
      for ((w, (_, seg)) <- segs; p <- seg.split(" "))
        cnt(p) = cnt.getOrElse(p, 0L) + wordCounts(w)
      (segs, cnt.toMap)
    }
    val (_, cnt1) = estep(costs(chars ++ multi0))
    val vocab1 = chars.map { case (p, _) => p -> cnt1.getOrElse(p, 0L) } ++
      cnt1.filter(_._1.length >= 2).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(TextOps.uniVocabBudget).toMap
    val (segs2, cnt2) = estep(costs(vocab1))

    assert(got === segs2, "final Viterbi segmentations replay exactly")
    assert(gotCnt === cnt2, "final piece usage counts replay exactly")
    // reassembly invariant: every segmentation concatenates back to its word
    got.foreach { case (w, (np, seg)) =>
      assert(seg.replace(" ", "") === w)
      assert(seg.split(" ").length === np)
    }
    // the trainer must actually ADOPT multi-char pieces (not collapse to
    // the per-char baseline) and segment the repeated morphemes with them
    assert(gotCnt.exists { case (p, c) => p.length >= 2 && c > 0 })
    assert(got("banana")._1 < 6, "banana must not fall back to 6 chars")
  }

  test("unigram encode: ids decode back to every document's exact text") {
    val enc = TextOps.qDocUnigramEncode(spark, sf).collect()
    assert(enc.nonEmpty)
    // id -> piece map from the trained piece table (vocab-bounded)
    val words = graft.model.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")).between(1, TextOps.uniMaxWordLen))
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
    val (_, cnt2) = TextOps.uniTrainFromWords(words)
    val byCnt = cnt2.collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt")))
      .sortBy { case (p, c) => (-c, p) }
    val idOf = byCnt.zipWithIndex.map { case ((p, _), i) => (i + 1).toLong -> p }.toMap
    val texts = graft.model.Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    enc.foreach { r =>
      val docId = r.getAs[Long]("doc_id")
      val tids = r.getAs[String]("token_ids").split(" ").map(_.toLong)
      assert(tids.length.toLong === r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_words_skipped") === 0L)
      // the decoded pieces, concatenated, must reproduce the document
      // byte-for-byte (modulo the word separators the encoding drops)
      val decoded = tids.map(idOf).mkString
      assert(decoded === texts(docId).replace(" ", ""), s"doc $docId roundtrip")
    }
    // every document encoded (no doc lost all its words to the length cap)
    assert(enc.length === texts.size)
  }

  test("unigram transfer: conservation, base-aggregate consistency, held-out row present") {
    val rows = TextOps.qDocUnigramTransfer(spark, sf).collect()
    assert(rows.count(_.getAs[Boolean]("held_out")) === 1)
    // conservation: encodable + skipped occurrences == every word
    // occurrence of the source
    val totals = graft.model.Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("n_words") + r.getAs[Long]("n_words_skipped")
        === totals(src), s"conservation for $src")
      assert(r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_words"))
    }
    // fert_vs_base: re-derive the base aggregate from the base rows
    val baseRows = rows.filter(!_.getAs[Boolean]("held_out"))
    val baseFert = baseRows.map(_.getAs[Long]("n_tokens")).sum.toDouble /
      baseRows.map(_.getAs[Long]("n_words")).sum
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("fert_vs_base") -
        r.getAs[Double]("fertility") / baseFert) < 1e-9)
    }
  }

  test("unigram-LM fertility: per-source invariants and BPE comparison consistency") {
    val rows = TextOps.qDocUnigramLm(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nw = r.getAs[Long]("n_words")
      val nc = r.getAs[Long]("n_chars")
      val ntu = r.getAs[Long]("n_tokens_uni")
      val ntb = r.getAs[Long]("n_tokens_bpe")
      // every word yields >= 1 and <= its char count pieces under BOTH
      assert(ntu >= nw && ntu <= nc)
      assert(ntb >= nw && ntb <= nc)
      assert(r.getAs[Long]("n_words_skipped") === 0L,
        "testdata words all fit the 12-char DP bound")
      assert(math.abs(r.getAs[Double]("fertility_uni") -
        ntu.toDouble / nw) < 1e-12)
      assert(math.abs(r.getAs[Double]("fert_vs_bpe") -
        ntu.toDouble / ntb) < 1e-12)
    }
  }

}

class PackMasksSpec extends graft.SparkSuite {

  test("pack masks: every chunk tiles gaplessly; whole-doc flags replay against the layout") {
    val l = TextOps.packChunkTokens
    val rows = TextOps.qDocPackMasks(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = Tables.documents(spark, sf)
      .select(sum(size(split(col("text"), " "))).cast("long"))
      .collect()(0).getLong(0)
    // chunk ids are exactly 0..ceil(total/L)-1
    assert(rows.map(_.getAs[Long]("chunk")).toSeq ===
      (0L until (total + l - 1) / l).toSeq)
    val layout = TextOps.qDocPackChunks(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tok_start"), r.getAs[Long]("n_tokens")))).toMap
    rows.foreach { r =>
      val c = r.getAs[Long]("chunk")
      val isLast = c == rows.length - 1
      // conservation: the spans tile the window (ragged last chunk)
      val want = if (isLast) total - c * l else l
      assert(r.getAs[Long]("span_tokens") === want, s"chunk $c")
      // the mask itself tiles gaplessly from 0 in order, and each span
      // replays the layout's global offsets; whole-doc count replays too
      var cursor = 0L
      var whole = 0L
      r.getAs[String]("mask").split(" ").foreach { sp =>
        val Array(docS, rest) = sp.split("@")
        val Array(sS, lenS) = rest.split("\\+")
        val (doc, s, len) = (docS.toLong, sS.toLong, lenS.toLong)
        assert(s === cursor, s"gap in chunk $c at $sp")
        cursor += len
        val (ts, nt) = layout(doc)
        assert(ts <= c * l + s && ts + nt >= c * l + s + len,
          s"span $sp outside doc $doc's layout")
        if (ts == c * l + s && nt == len) whole += 1
      }
      assert(cursor === want)
      assert(r.getAs[Long]("n_whole_docs") === whole, s"chunk $c")
      assert(r.getAs[Long]("n_spans").toInt ===
        r.getAs[String]("mask").split(" ").length)
    }
  }
}
