package graft.ext

import org.apache.spark.sql.functions._

import graft.{Exact, SparkSuite}
import graft.model.Tables

/** Semantics tests for the corpus-management operators: passage dedup
  * keeps exactly one occurrence per distinct passage, splitting partitions
  * the corpus deterministically, normalization is the identity on already-
  * clean text, the mixture report's shares sum to 1, the JSONL round-trip
  * is lossless, and hard-negative mining matches a local brute-force
  * recomputation.
  */
class CorpusOpsSpec extends SparkSuite {

  test("quality gate: flipping each signal flips exactly its attribution column") {
    // STRUCTURED controlled corpus (the synthetic harness corpus is a
    // 31-word i.i.d. vocabulary where a bigram-only failure cannot be
    // composed — see qDocQualityGate's scaladoc): 200 identical chain
    // docs make every in-chain bigram continuation near-certain
    // (c2/c1 = 200/201), so a re-paired doc's novel bigrams score
    // 1/201 ≈ 0.005 — below the gate's 0.015 — while its unigrams,
    // shingles, and lexical stats stay clean-identical.
    val spark0 = spark
    import spark0.implicits._
    val chain = (0 until 30).map(i => f"w$i%02d")
    val cleanText = chain.mkString(" ")
    // A: one word looped 150x after the chain -> repetition only
    //    (distinct ratio 31/180 keeps quality_score ~0.29 > 0.25)
    val repText = (chain ++ Seq.fill(150)("r1")).mkString(" ")
    // B: the same 30 common words re-paired (evens then odds) -> bigram only
    val bigramText = (chain.indices.filter(_ % 2 == 0) ++
      chain.indices.filter(_ % 2 == 1)).map(chain).mkString(" ")
    // C: 30 corpus-unique tokens -> cross-entropy only (self-bigrams p = 1)
    val rareText = (0 until 30).map(i => s"u$i").mkString(" ")
    // D: 10 chain tokens -> token floor only (fluent, distinct, common)
    val truncText = chain.take(10).mkString(" ")
    // E: a single token -> token floor ONLY: no bigrams exist (the fluency
    //    arm must not claim it) and its one degenerate shingle is below
    //    the repetition arm's support floor (rep_ratio would read 1.0)
    val soloText = chain.head
    val docs = ((0L until 200L).map(i => (i, cleanText)) ++ Seq(
      (1001L, repText), (1002L, bigramText), (1003L, rareText),
      (1004L, truncText), (1005L, soloText))).toDF("doc_id", "text")
    val out = CorpusOps.qualityGateFrom(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("fail_repetition"), r.getAs[Boolean]("fail_bigram"),
          r.getAs[Boolean]("fail_xent"), r.getAs[Boolean]("fail_quality")),
          r.getAs[String]("drop_reason"))).toMap
    assert(out.size === 205)
    (0L until 200L).foreach { i =>
      assert(out(i) === (((false, false, false, false), "kept")),
        s"clean doc $i tripped an arm: ${out(i)}")
    }
    assert(out(1001L) === (((true, false, false, false), "repetition")))
    assert(out(1002L) === (((false, true, false, false), "bigram_lm")))
    assert(out(1003L) === (((false, false, true, false), "perplexity")))
    assert(out(1004L) === (((false, false, false, true), "low_quality")))
    assert(out(1005L) === (((false, false, false, true), "low_quality")),
      "a 1-token doc is the token floor's business, not a corpus-model arm's")
    spark.catalog.clearCache()
  }

  test("quality gate: injected defect families funnel to their own stage at sf0.001") {
    val rows = CorpusOps.qDocQualityGate(spark, sf).collect()
    val byFam = rows.filter(_.getAs[Long]("doc_id") < 0)
      .groupBy(r => ((-r.getAs[Long]("doc_id") - 1) % 40).toInt)
    assert(byFam(1).forall(_.getAs[String]("drop_reason") == "repetition"))
    assert(byFam(3).forall(_.getAs[String]("drop_reason") == "perplexity"))
    assert(byFam(4).forall(_.getAs[String]("drop_reason") == "low_quality"))
    // rare-vocab and truncation trip ONLY their own signal arm
    assert(byFam(3).forall(r => !r.getAs[Boolean]("fail_repetition") &&
      !r.getAs[Boolean]("fail_bigram")))
    assert(byFam(4).forall(r => !r.getAs[Boolean]("fail_repetition") &&
      !r.getAs[Boolean]("fail_bigram") && !r.getAs[Boolean]("fail_xent")))
    // clean docs never trip the corpus-model arms (rep/bigram/xent)
    val clean = rows.filter(_.getAs[Long]("doc_id") >= 0)
    assert(clean.nonEmpty)
    assert(clean.forall(r => !r.getAs[Boolean]("fail_repetition") &&
      !r.getAs[Boolean]("fail_bigram") && !r.getAs[Boolean]("fail_xent")))
    spark.catalog.clearCache()
  }

  test("quality transfer: frozen-model scoring replays; planted domain flagged, real sources pass") {
    def pHash(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    def qlog(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    val docsRows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (arr0, base) = docsRows.partition(d => pHash(d._3 + "|qtransfer") % 10 == 0)
    val arrivals = arr0 ++ arr0.collect { case (id, _, t) if id % 2 == 0 =>
      (-id - 1, "newdomain", t.split(" ").map(w => s"${w}z$id").mkString(" "))
    }
    // frozen reference models from the base split only
    def bigrams(text: String): Seq[String] = {
      val toks = text.split(" ")
      if (toks.length < 2) Seq.empty
      else toks.sliding(2).map(_.mkString(" ")).toSeq
    }
    val uni = base.flatMap(_._3.split(" ")).groupBy(identity).map { case (w, xs) =>
      w -> xs.length.toLong }
    val t = uni.values.sum; val v = uni.size.toLong
    val baseBg = base.flatMap(d => bigrams(d._3)).toSet
    val expected = arrivals.groupBy(_._2).map { case (src, ds) =>
      val ws = ds.flatMap(_._3.split(" "))
      val nTok = ws.length.toLong
      val nOov = ws.count(w => !uni.contains(w)).toLong
      val sumQlp = ws.map(w => qlog(uni.getOrElse(w, 0L) + 1) - qlog(t + v)).sum
      val bgs = ds.flatMap(d => bigrams(d._3))
      val bXent = {
        val bws = base.filter(_._2 == src).flatMap(_._3.split(" "))
        if (bws.isEmpty) None
        else Some(-bws.map(w => qlog(uni(w) + 1) - qlog(t + v)).sum / bws.length)
      }
      val xf = -sumQlp / nTok
      src -> (ds.length.toLong, nTok, nOov, bgs.length.toLong,
        bgs.count(baseBg.contains).toDouble / bgs.length,
        xf, bXent,
        nOov * CorpusOps.transferOovMul > nTok ||
          bXent.exists(b => xf - b > CorpusOps.transferXentGap))
    }
    val out = CorpusOps.qDocQualityTransfer(spark, sf).collect().map { r =>
      def optL(c: String) = if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getLong(r.fieldIndex(c)))
      r.getAs[String]("source") -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_oov"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("bigram_hit_rate"), r.getAs[Long]("xent_frozen_micronat"),
        optL("xent_base_micronat"), r.getAs[Boolean]("retrain_flag"))
    }.toMap
    assert(out.keySet === expected.keySet)
    expected.foreach { case (src, e) =>
      assert(out(src) === e, s"source $src: engine ${out(src)} != replay $e")
    }
    // the planted drifted domain is flagged; no real source is
    assert(out("newdomain")._8 === true)
    out.filter(_._1 != "newdomain").foreach { case (src, o) =>
      assert(!o._8, s"real source $src falsely flagged")
    }
    spark.catalog.clearCache()
  }

  test("quality refresh: additive stats merge replays; merged == full recount; batch contributes") {
    def pHash(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val docsRows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (batch, base) = docsRows.partition(d => pHash(d._2 + "|qrefresh") % 10 == 0)
    assert(base.nonEmpty && batch.nonEmpty, "content split must be two-sided")
    def uniOf(ds: Array[(Long, String)]): Map[String, Long] =
      ds.flatMap(_._2.split(" ")).groupBy(identity).map { case (w, xs) =>
        w -> xs.length.toLong }
    def biOf(ds: Array[(Long, String)]): Map[String, Long] =
      ds.flatMap { d =>
        val toks = d._2.split(" ")
        if (toks.length < 2) Seq.empty[String]
        else toks.sliding(2).map(_.mkString(" ")).toSeq
      }.groupBy(identity).map { case (g, xs) => g -> xs.length.toLong }
    def lawOf(b: Map[String, Long], n: Map[String, Long]) = {
      val keys = b.keySet ++ n.keySet
      (b.size.toLong, n.size.toLong, keys.size.toLong,
        b.values.sum, n.values.sum, b.values.sum + n.values.sum)
    }
    val expected = Map(
      "uni" -> lawOf(uniOf(base), uniOf(batch)),
      "bi" -> lawOf(biOf(base), biOf(batch)))
    val out = CorpusOps.qDocQualityRefresh(spark, sf).collect().map { r =>
      r.getAs[String]("kind") -> ((
        (r.getAs[Long]("n_keys_base"), r.getAs[Long]("n_keys_new"),
          r.getAs[Long]("n_keys_merged"), r.getAs[Long]("mass_base"),
          r.getAs[Long]("mass_new"), r.getAs[Long]("mass_merged")),
        r.getAs[Long]("n_mismatch"), r.getAs[Boolean]("merged_equals_full")))
    }.toMap
    assert(out.keySet === expected.keySet)
    expected.foreach { case (kind, e) =>
      assert(out(kind)._1 === e, s"kind $kind: engine ${out(kind)._1} != replay $e")
      // the merge LAW: per-key additive merge == from-scratch union recount
      assert(out(kind)._2 === 0L, s"kind $kind: ${out(kind)._2} mismatched keys")
      assert(out(kind)._3, s"kind $kind: merged_equals_full must hold")
    }
    // the refresh is non-trivial: the batch re-observes known tokens
    // (union < base + new) AND the masses genuinely add
    val (kb, kn, km, mb, mn, mm) = out("uni")._1
    assert(km < kb + kn, "batch must re-observe at least one known token")
    assert(mb > 0 && mn > 0 && mm === mb + mn)
    spark.catalog.clearCache()
  }

  test("boilerplate: planted affixes flagged, organic docs clean, token accounting conserved") {
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // the fixture's in-place wrap, replayed locally
    val wrapped = rows.map { case (id, src, t) =>
      (id, src, if (id % 4 == 0) s"hdr $src notice $t end $src ftr" else t)
    }
    val k = CorpusOps.bpAffixLen
    def affixes(t: String): (Option[String], Option[String]) = {
      val toks = t.split(" ")
      if (toks.length < 2 * k) (None, None)
      else (Some(toks.take(k).mkString(" ")), Some(toks.takeRight(k).mkString(" ")))
    }
    val bySrc = wrapped.groupBy(_._2)
    def flaggedSet(pick: ((Option[String], Option[String])) => Option[String]) =
      bySrc.flatMap { case (src, ds) =>
        ds.flatMap(d => pick(affixes(d._3))).groupBy(identity)
          .filter { case (_, xs) =>
            xs.size >= CorpusOps.bpMinDocs &&
              xs.size.toDouble / ds.size >= CorpusOps.bpMinFrac }
          .keys.map(src -> _)
      }.toSet
    val hdrs = flaggedSet(_._1); val ftrs = flaggedSet(_._2)
    val expected = wrapped.map { case (id, src, t) =>
      val (p, s) = affixes(t)
      val sh = p.exists(a => hdrs((src, a))); val sf_ = s.exists(a => ftrs((src, a)))
      val n = t.split(" ").length.toLong
      id -> (sh, sf_, n, n - (if (sh) k else 0) - (if (sf_) k else 0))
    }.toMap
    val out = CorpusOps.qDocBoilerplate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("strip_header"), r.getAs[Boolean]("strip_footer"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("n_tokens_stripped"))).toMap
    assert(out === expected)
    // the plant works both ways: every wrapped doc is stripped on both
    // ends, and no organic doc loses a token
    wrapped.foreach { case (id, _, _) =>
      if (id % 4 == 0) assert(out(id)._1 && out(id)._2, s"planted doc $id unflagged")
      else assert(!out(id)._1 && !out(id)._2 && out(id)._3 === out(id)._4,
        s"organic doc $id stripped: ${out(id)}")
    }
  }

  test("gate auc: exact MW replay per family; spam craters, gibberish weak, truncation anti-correlated") {
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // the fixture, replayed
    val corpus = rows.map { case (id, t) => (id, t, null: String) } ++
      rows.collect { case (id, t) if id % 40 == 1 =>
        (-id - 1, "spam " * 60 + "tail" + id, "spam") } ++
      rows.collect { case (id, t) if id % 40 == 3 =>
        (-id - 1, t.split(" ").map(w => s"${w}z$id").mkString(" "), "gibberish") } ++
      rows.collect { case (id, t) if id % 40 == 4 =>
        (-id - 1, t.split(" ").take(10).mkString(" "), "truncated") }
    def score(t: String): Double = {
      val toks = t.split(" "); val n = toks.length.toDouble
      val stop = TextOps.stopwords.toSet
      0.5 * (toks.distinct.length.toDouble / n) +
        0.3 * (toks.count(stop).toDouble / n) + 0.2 * math.min(1.0, n / 100.0)
    }
    val scored = corpus.map { case (id, t, fam) =>
      (math.floor(score(t) * 1000000L).toLong, fam)
    }
    def auc(fam: String): (Long, Long, Long, Double) = {
      val pop = scored.filter(s => s._2 == null || fam == "all" || s._2 == fam)
      val defects = pop.filter(_._2 != null).map(_._1).sorted
      val clean = pop.filter(_._2 == null).map(_._1)
      val all = pop.map(_._1)
      // doubled midrank of v in the combined sample
      def rank2(v: Long): Long =
        2L * all.count(_ < v) + (all.count(_ == v) + 1L)
      val r2 = defects.map(rank2).sum
      val n1 = defects.length.toLong; val n0 = clean.length.toLong
      val u2 = r2 - n1 * (n1 + 1)
      (n1, n0, u2, 1.0 - u2.toDouble / (2.0 * n1 * n0))
    }
    val expected = Seq("all", "spam", "gibberish", "truncated")
      .map(f => f -> auc(f)).toMap
    val out = CorpusOps.qDocGateAuc(spark, sf).collect()
      .map(r => r.getAs[String]("family") -> ((r.getAs[Long]("n_defect"),
        r.getAs[Long]("n_clean"), r.getAs[Long]("u1_doubled"),
        r.getAs[Double]("auc_low")))).toMap
    assert(out.keySet === expected.keySet)
    expected.foreach { case (f, (n1, n0, u2, a)) =>
      assert(out(f) === ((n1, n0, u2, a)), s"family $f: ${out(f)} != ($n1,$n0,$u2,$a)")
    }
    // the measured blind spots: spam fully separated, gibberish weak,
    // truncation ANTI-correlated (the n_tokens floor's job, not the score's)
    assert(out("spam")._4 > 0.9, s"spam ${out("spam")._4}")
    assert(out("gibberish")._4 > 0.4 && out("gibberish")._4 < 0.85,
      s"gibberish ${out("gibberish")._4}")
    assert(out("truncated")._4 < 0.3, s"truncated ${out("truncated")._4}")
  }

  test("release gate: composition equals the component kernels; verdict is the threshold funnel") {
    import org.apache.spark.sql.functions.{col => c}
    def pHash(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val docs = Tables.documents(spark, sf)
      .select(c("doc_id"), c("source"), c("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val train = docs.filter(_._1 % 50 != 0)
    val srcOf = train.map(d => d._1 -> d._2).toMap
    // component 1: the self-trained funnel, from the ENGINE's own proven
    // kernel (its per-arm semantics are certified by the E312 spec +
    // oracle; the gate must compose it verbatim)
    val trainDF = Tables.documents(spark, sf)
      .filter(c("doc_id") % 50 =!= 0).select(c("doc_id"), c("text"))
    val qfail = CorpusOps.qualityGateFrom(spark, trainDF).collect()
      .filter(_.getAs[String]("drop_reason") != "kept")
      .map(r => srcOf(r.getAs[Long]("doc_id")))
      .groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    spark.catalog.clearCache()
    // component 2: the fuzzy gate, same sourcing rule
    val evDF = Tables.documents(spark, sf)
      .filter(c("doc_id") % 50 === 0).select(c("doc_id"), c("text"))
    val contam = Dedup.fuzzyContamPairs(spark, trainDF, evDF).collect()
      .map(_.getAs[Long]("doc_id")).distinct
      .map(srcOf).groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    spark.catalog.clearCache()
    // component 3 + verdict: pure local replay
    val expected = train.groupBy(_._2).map { case (src, ds) =>
      val n = ds.length.toLong
      val nDistinct = ds.map(d => pHash(d._3)).distinct.length.toLong
      val nq = qfail.getOrElse(src, 0L); val nc = contam.getOrElse(src, 0L)
      val (qf, cf, df) =
        (nq.toDouble / n, nc.toDouble / n, 1.0 - nDistinct.toDouble / n)
      val verdict =
        if (cf > CorpusOps.relMaxContamFrac) "blocked:contaminated"
        else if (df > CorpusOps.relMaxDupFrac) "blocked:duplicated"
        else if (qf > CorpusOps.relMaxQfailFrac) "blocked:quality"
        else "ship"
      src -> ((n, nq, nc, nDistinct, qf, cf, df, verdict))
    }
    val out = CorpusOps.qDocReleaseGate(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> ((r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_qfail"), r.getAs[Long]("n_contam"),
        r.getAs[Long]("n_distinct"), r.getAs[Double]("qfail_frac"),
        r.getAs[Double]("contam_frac"), r.getAs[Double]("dup_frac"),
        r.getAs[String]("verdict")))).toMap
    assert(out.keySet === expected.keySet)
    expected.foreach { case (s, e) =>
      assert(out(s) === e, s"source $s: engine ${out(s)} != replay $e")
    }
    // the decision is live: at least one source ships and at least one
    // blocks (organic rates straddle the thresholds at every test SF)
    val vs = out.values.map(_._8).toSet
    assert(vs.contains("ship") && vs.exists(_.startsWith("blocked:")),
      s"degenerate verdict mix: $vs")
    spark.catalog.clearCache()
  }

  test("bt rating: MM fit matches an exact local replay; counts exact; ratings normalized") {
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // the shared lexical score, replayed with the engine's operation order
    def score(t: String): Double = {
      val toks = t.split(" ")
      val n = toks.length.toDouble
      val stop = TextOps.stopwords.toSet
      0.5 * (toks.distinct.length.toDouble / n) +
        0.3 * (toks.count(stop).toDouble / n) +
        0.2 * math.min(1.0, n / 100.0)
    }
    val byId = rows.map(d => d._1 -> d).toMap
    val matches = for {
      off <- Seq(3L, 7L); (ida, sa, ta) <- rows
      (idb, sb, tb) <- byId.get(ida + off) if sa != sb
    } yield {
      val (qa, qb) = (score(ta), score(tb))
      (sa, sb, qa > qb || (qa == qb && ida < idb))
    }
    val nbr = (matches.map { case (i, j, wa) => ((i, j), if (wa) 1L else 0L) } ++
      matches.map { case (i, j, wa) => ((j, i), if (wa) 0L else 1L) })
      .groupBy(_._1).map { case (k, xs) => k -> (xs.length.toLong, xs.map(_._2).sum) }
    val srcs = nbr.keys.map(_._1).toSeq.distinct.sorted
    val tot = srcs.map { i =>
      val mine = nbr.filter(_._1._1 == i).values
      i -> (mine.map(_._1).sum, mine.map(_._2).sum)
    }.toMap
    var r = srcs.map(_ -> 1.0).toMap
    for (_ <- 1 to CorpusOps.btIters) {
      r = srcs.map { i =>
        val denom = nbr.collect { case ((`i`, j), (n, _)) => (j, n) }.toSeq
          .sortBy(_._1)
          .foldLeft(0.0) { case (acc, (j, n)) => acc + n.toDouble / (r(i) + r(j)) }
        i -> (tot(i)._2 + CorpusOps.btEps) / denom
      }.toMap
    }
    val sr = srcs.sorted.foldLeft(0.0)((acc, i) => acc + r(i))
    val ns = srcs.length.toLong
    val expected = srcs.map(i =>
      i -> (tot(i)._1, tot(i)._2, r(i) * ns / sr)).toMap
    val out = CorpusOps.qDocBtRating(spark, sf).collect()
      .map(rr => rr.getAs[String]("source") -> (rr.getAs[Long]("n_matches"),
        rr.getAs[Long]("n_wins"), rr.getAs[Double]("rating"))).toMap
    assert(out.keySet === expected.keySet)
    expected.foreach { case (s, e) =>
      assert(out(s) === e, s"source $s: engine ${out(s)} != replay $e")
    }
    // ratings are gauge-fixed to mean 1 and strictly positive
    assert(math.abs(out.values.map(_._3).sum / out.size - 1.0) < 1e-9)
    out.values.foreach { case (_, _, rt) => assert(rt > 0.0) }
    spark.catalog.clearCache()
  }

  test("datasheet: per-source volume, vocab, dup and lang-entropy match a local replay") {
    def pHash(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    def qlog(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("lang"), col("text"), col("n_chars"))
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val expected = rows.groupBy(_._1).map { case (src, ds) =>
      val nDocs = ds.length.toLong
      val toks = ds.map(_._3.split(" "))
      val nTok = toks.map(_.length.toLong).sum
      val vocab = toks.flatten.distinct.length.toLong
      val nDistinct = ds.map(d => pHash(d._3)).distinct.length.toLong
      val langCnt = ds.groupBy(_._2).map { case (_, xs) => xs.length.toLong }
      val ent = qlog(nDocs) - langCnt.map(c => c * qlog(c)).sum / nDocs
      src -> ((nDocs, nTok, nTok.toDouble / nDocs,
        ds.map(_._4).sum.toDouble / nDocs, vocab, vocab.toDouble / nTok,
        1.0 - nDistinct.toDouble / nDocs, langCnt.size.toLong, ent))
    }
    val out = CorpusOps.qDocDatasheet(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> ((r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Double]("mean_tokens"),
        r.getAs[Double]("mean_chars"), r.getAs[Long]("vocab"),
        r.getAs[Double]("ttr"), r.getAs[Double]("dup_frac"),
        r.getAs[Long]("n_langs"), r.getAs[Long]("lang_ent_micronat")))).toMap
    assert(out.keySet === expected.keySet)
    expected.foreach { case (src, e) =>
      assert(out(src) === e, s"source $src: engine ${out(src)} != replay $e")
    }
    // entropy sanity: non-negative, and zero iff monolingual
    out.values.foreach { case (_, _, _, _, _, _, _, nl, ent) =>
      assert(ent >= 0L); if (nl === 1L) assert(ent === 0L)
    }
  }

  test("passage dedup: kept passages = distinct passages, deterministic") {
    val out = CorpusOps.qDocPassageDedup(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    assert(out.length === docs)
    assert(out.forall(r =>
      r.getAs[Long]("n_dropped") >= 0 &&
        r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_passages")))
    // global invariant: kept passages across the corpus = distinct passage
    // texts (independent formulation, no window/hash machinery)
    val kept = out.map(r => r.getAs[Long]("n_passages") - r.getAs[Long]("n_dropped")).sum
    val distinctPassages = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .select(explode(expr(
        s"transform(sequence(1, size(toks), ${CorpusOps.passageTokens})," +
          s" i -> concat_ws(' ', slice(toks, i, ${CorpusOps.passageTokens})))")).as("p"))
      .distinct().count()
    assert(kept === distinctPassages)
    val again = CorpusOps.qDocPassageDedup(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("split: folds partition the corpus with roughly 80/10/10 mass") {
    val out = CorpusOps.qDocSplit(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n_docs")).sum
    assert(total === Tables.documents(spark, sf).count())
    val byFold = out.groupBy(_.getAs[String]("fold"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(byFold.keySet === Set("train", "val", "test"))
    val trainShare = byFold("train").toDouble / total
    assert(trainShare > 0.7 && trainShare < 0.9, s"train share $trainShare")
    // determinism: the fold decision is content-keyed, so re-runs agree
    assert(out.map(_.toSeq).toSeq === CorpusOps.qDocSplit(spark, sf).collect().map(_.toSeq).toSeq)
  }

  test("normalize: identity on clean docs, strictly shrinking on injected mess") {
    val out = CorpusOps.qDocNormalize(spark, sf).collect()
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 7 == 0) {
        // injected suffix adds punctuation/case/doubled spaces that the
        // normalizer must strip: normalized is strictly shorter than raw
        assert(r.getAs[Long]("len_norm") < r.getAs[Long]("len_raw"), s"doc $id")
      } else {
        // the synthetic corpus is already lowercase single-spaced — the
        // normalizer must be the identity (length-preserving) on it
        assert(r.getAs[Long]("len_norm") === r.getAs[Long]("len_raw"), s"doc $id")
      }
    }
  }

  test("source mix: token shares sum to 1, doc counts cover the corpus") {
    val out = CorpusOps.qDocSourceMix(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === Tables.documents(spark, sf).count())
    val shareSum = out.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"share sum $shareSum")
    assert(out.forall(_.getAs[Double]("quality_mass") > 0.0))
  }

  test("jsonl round-trip: checksum equals the direct parquet-side computation") {
    val rt = CorpusOps.qDocJsonlRoundtrip(spark, sf).collect()
    val direct = Tables.documents(spark, sf)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        (sum(Exact.portableHash(col("text")).cast("decimal(38,0)")) %
          lit(Exact.checksumP)).cast("long").as("content_sum"))
      .orderBy(col("lang")).collect()
    assert(rt.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq)
  }

  test("hard negatives: matches local brute force, labels always differ") {
    val rows = Similarity.qEmbHardNegatives(spark, sf).collect()
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = emb.filter(_._1 < Similarity.nQueryVecs)
    val cands = emb.filter(_._1 >= Similarity.nQueryVecs)
    queries.foreach { case (qId, qLabel, qv) =>
      val expected = cands.filter(_._2 != qLabel)
        .map { case (id, _, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(Similarity.topK).map(_._1).toSeq
      val got = rows.filter(_.getAs[Long]("q_id") == qId)
        .sortBy(r => (-r.getAs[Double]("cosine"), r.getAs[Long]("vec_id")))
        .map(_.getAs[Long]("vec_id")).toSeq
      assert(got === expected, s"query $qId")
      assert(rows.filter(_.getAs[Long]("q_id") == qId)
        .forall(_.getAs[Int]("c_label") != qLabel))
    }
  }

  test("moving window: matches a local trailing-3600s recomputation") {
    val out = graft.queries.Analytics.qEventMovingWindow(spark, sf).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("cnt_1h"))).toMap
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("s"))
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"), r.getAs[Long]("s")))
    events.groupBy(_._2).foreach { case (_, evs) =>
      evs.foreach { case (id, _, s) =>
        val expect = evs.count { case (_, _, s2) => s2 >= s - 3600 && s2 <= s }
        assert(out(id) === expect, s"event $id")
      }
    }
  }

  test("set operators: tags agree with local set algebra over part sizes") {
    val out = graft.queries.Analytics.qPartSizeSetops(spark, sf).collect()
      .groupBy(_.getAs[String]("tag"))
      .view.mapValues(_.map(_.getAs[Int]("p_size")).toSet).toMap
    val part = Tables.part(spark, sf)
      .select(col("p_brand"), col("p_size")).collect()
      .map(r => (r.getAs[String]("p_brand"), r.getAs[Int]("p_size")))
    val a = part.collect { case ("Brand#12", s) => s }.toSet
    val b = part.collect { case ("Brand#21", s) => s }.toSet
    assert(out.getOrElse("both", Set.empty) === (a intersect b))
    assert(out.getOrElse("only_12", Set.empty) === (a diff b))
    assert(out.getOrElse("only_21", Set.empty) === (b diff a))
  }

  test("chunking: full coverage, stride layout, remainder chunk") {
    val out = CorpusOps.qDocChunk(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet === docs.keySet)
    byDoc.foreach { case (id, chunks) =>
      val n = docs(id)
      // chunk count = number of stride starts ≤ n
      val expectChunks = (n - 1) / CorpusOps.chunkStride + 1
      assert(chunks.length === expectChunks, s"doc $id")
      val sorted = chunks.sortBy(_.getAs[Int]("chunk_idx"))
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Int]("chunk_idx") === i)
        val start = i * CorpusOps.chunkStride // 0-based
        val expectLen = math.min(CorpusOps.chunkTokens, n - start)
        assert(c.getAs[Long]("n_chunk_tokens") === expectLen, s"doc $id chunk $i")
      }
      // consecutive full chunks overlap by chunkTokens - chunkStride
      assert(CorpusOps.chunkTokens - CorpusOps.chunkStride === 16)
    }
  }

  test("oov: vocab-only doc scores zero, ratios bounded, counts add up") {
    val out = CorpusOps.qDocOov(spark, sf).collect()
    val stats = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    assert(out.length === stats.size)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_tokens") === stats(id).toLong, s"doc $id")
      val ratio = r.getAs[Double]("oov_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // independent recompute of one doc's OOV count against the vocab set
    val vocab = TextOps.qDocVocab(spark, sf).collect()
      .map(_.getAs[String]("token")).toSet
    val sample = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(5).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_oov")).toMap
    sample.foreach { r =>
      val expected = r.getAs[String]("text").split(" ").count(t => !vocab(t))
      assert(byId(r.getAs[Long]("doc_id")) === expected.toLong)
    }
  }

  test("length buckets: doc/token mass conserved, waste consistent") {
    val out = CorpusOps.qDocLengthBuckets(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).as("n")).collect()
      .map(_.getAs[Int]("n"))
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.length.toLong)
    assert(out.map(_.getAs[Long]("sum_tokens")).sum === docs.map(_.toLong).sum)
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val waste = r.getAs[Double]("padding_waste")
      assert(waste >= 0.0 && waste < 1.0, s"bucket $b")
      // every doc in the bucket must actually fit it
      val expectDocs = docs.count { n =>
        val bounds = CorpusOps.lengthBucketBounds
        val assigned = bounds.find(n <= _).getOrElse(bounds.last * 2)
        assigned.toLong == b
      }
      assert(r.getAs[Long]("n_docs") === expectDocs.toLong)
    }
  }

  test("temperature mixture: shares sum to 1 and flatten toward uniform") {
    val out = CorpusOps.qDocLangMixTemp(spark, sf).collect()
    val raw = out.map(_.getAs[Double]("share"))
    val temp = out.map(_.getAs[Double]("temp_share"))
    assert(math.abs(raw.sum - 1.0) < 1e-9)
    assert(math.abs(temp.sum - 1.0) < 1e-9)
    // sqrt-temperature flattens: the minority language gains share, the
    // majority loses (strict as long as shares differ)
    val zipped = raw.zip(temp)
    val (minRaw, minTemp) = zipped.minBy(_._1)
    val (maxRaw, maxTemp) = zipped.maxBy(_._1)
    assert(minTemp > minRaw, s"minority $minRaw -> $minTemp")
    assert(maxTemp < maxRaw, s"majority $maxRaw -> $maxTemp")
  }

  test("source cap: keeps the top-K per source, heap operator, no window") {
    import org.apache.spark.sql.functions.col
    val out = CorpusOps.qDocSourceCap(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("quality")))
    assert(out.nonEmpty)
    val perSource = out.groupBy(_._1)
    perSource.values.foreach(g => assert(g.length <= CorpusOps.sourceCapK))
    // equals a local sort-and-take over the same scored frame
    val scored = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        TextOps.qualityScoreCol.as("quality")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("quality")))
    val expected = scored.groupBy(_._1).values.flatMap(g =>
      g.sortBy(t => (-t._3, t._2)).take(CorpusOps.sourceCapK)).toSet
    assert(out.toSet === expected)
    // a source with more docs than the cap exists (the cap actually cuts)
    assert(scored.groupBy(_._1).values.exists(_.length > CorpusOps.sourceCapK))
    // planned on the native heap operator, not a rank window
    val p = CorpusOps.qDocSourceCap(spark, sf).queryExecution.sparkPlan.toString
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), p)
  }

  test("cdc savings: summary matches a full local chunking replay") {
    val row = CorpusOps.qDocCdcSavings(spark, sf).collect().head
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val corpus = docs ++ docs.filter(_._1 % 25 == 0)
      .map { case (id, t) => (id + 100000) -> (t + " near duplicate suffix") }
    def h31(sv: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP
    }
    val P = Exact.HashP
    val w = CorpusOps.cdcWindow
    def chunksOf(text: String): Seq[(Long, Int)] = {
      val ths = text.split(" ").map(h31).toIndexedSeq
      val n = ths.length
      val cuts =
        if (n < w) Seq.empty
        else (1 to n - (w - 1)).filter { i =>
          val wh = (ths(i - 1) * 29791L + ths(i) * 961L + ths(i + 1) * 31L +
            ths(i + 2)) % P
          wh % CorpusOps.cdcDivisor == 0 && i + (w - 1) < n
        }.map(_ + (w - 1))
      val starts = 1 +: cuts.map(_ + 1)
      val ends = cuts :+ n
      starts.zip(ends).map { case (a, b) =>
        val fold = ths.slice(a - 1, b).foldLeft(0L)((acc, x) =>
          (acc * graft.ext.Dedup.rollingBase + x) % P)
        (fold, b - a + 1)
      }
    }
    val all = corpus.flatMap { case (_, t) => chunksOf(t) }
    val perHash = all.groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(_._2.toLong).sum, g.map(_._2.toLong).min))
    assert(row.getAs[Long]("n_chunks") === all.length.toLong)
    assert(row.getAs[Long]("n_distinct_chunks") === perHash.size.toLong)
    assert(row.getAs[Long]("total_tokens") === all.map(_._2.toLong).sum)
    val dup = perHash.values.map { case (_, ts, one) => ts - one }.sum
    assert(row.getAs[Long]("dup_tokens") === dup)
    assert(row.getAs[Double]("savings_share") ===
      dup.toDouble / all.map(_._2.toLong).sum.toDouble)
    // shift-robustness: a near-dup's appended suffix perturbs only the
    // TAIL chunk(s) — every planted copy shares all but a bounded few
    // chunks with its source
    docs.filter(_._1 % 25 == 0).foreach { case (id, t) =>
      val src = chunksOf(t).map(_._1)
      val cp = chunksOf(t + " near duplicate suffix").map(_._1)
      val shared = src.toSet intersect cp.toSet
      assert(shared.size >= src.length - 2,
        s"doc $id: only ${shared.size}/${src.length} chunks survive the edit")
    }
  }

  test("dsir weights: bit-exact local recompute; target slice scores higher on average") {
    val out = CorpusOps.qDocDsirWeights(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("dsir_weight"))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text").split(" ")))
    val b = CorpusOps.dsirBuckets
    // mirror h31: first 15 hex chars of md5, mod the int32 prime, mod B
    def bucket(bg: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(bg.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.take(15), 16) % Exact.HashP) % b
    }
    val grams = docs.filter(_._3.length >= 2).map { case (id, lang, ts) =>
      (id, lang, ts.sliding(2).map(w => bucket(w.mkString(" "))).toSeq)
    }
    val target = grams.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val corpus = grams.flatMap(_._3)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val bigT = target.values.sum
    val bigU = corpus.values.sum
    assert(out.size === grams.length)
    grams.foreach { case (id, _, gs) =>
      val byBucket = gs.groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1)
      // identical operand tree: (t+1)/(T+B) over (u+1)/(U+B), folded in
      // ascending bucket order
      var acc = 0.0
      byBucket.foreach { case (bk, c) =>
        val r = ((target.getOrElse(bk, 0L) + 1L).toDouble / (bigT + b).toDouble) /
          ((corpus(bk) + 1L).toDouble / (bigU + b).toDouble)
        acc += c.toDouble * r
      }
      assert(out(id)._1 === gs.length.toLong, s"doc $id n_bigrams")
      assert(out(id)._2 === acc, s"doc $id weight")
    }
    // the semantic point of DSIR: normalized by length, target-language
    // docs must look more target-like than the rest on average
    val (en, rest) = grams.partition(_._2 == "en")
    def meanPerGram(g: Seq[(Long, String, Seq[Long])]): Double =
      g.map(d => out(d._1)._2 / out(d._1)._1).sum / g.length
    assert(en.nonEmpty && rest.nonEmpty)
    assert(meanPerGram(en.toSeq) > meanPerGram(rest.toSeq))
  }

  test("epoch value: budget conserved, decay ceilings hold, marginal/diminished consistent") {
    import org.apache.spark.sql.functions.{col, size, split, sum}
    import graft.model.Tables
    val rows = CorpusOps.qDocEpochValue(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalU = Tables.documents(spark, sf)
      .select(sum(size(split(col("text"), " ")).cast("long")))
      .collect()(0).getLong(0)
    val m = rows.length.toLong
    // equal split: every alloc is the same integer share of 2x corpus
    rows.foreach(r => assert(
      r.getAs[Long]("alloc_tokens") === (CorpusOps.evBudgetMult * totalU) / m))
    rows.foreach { r =>
      val (u, a) = (r.getAs[Long]("unique_tokens"), r.getAs[Long]("alloc_tokens"))
      val ef = r.getAs[Double]("effective_tokens")
      val ep = r.getAs[Long]("epochs_full")
      val frac = r.getAs[Long]("frac_millionths")
      assert(ep === a / u && frac === (a % u) * 1000000L / u)
      // geometric half-decay ceilings: never more than what was read,
      // never more than the infinite-epoch limit 2U; a completed first
      // epoch guarantees at least the unique data's value
      assert(ef <= a.toDouble + 1e-9 && ef <= 2.0 * u)
      if (ep >= 1) assert(ef >= u.toDouble)
      // marginal value of the LAST STARTED epoch k is 2^(1-k)
      val k = if (a % u == 0L) ep else ep + 1L
      val expected = math.pow(2.0, -math.max(math.min(k - 1L,
        CorpusOps.evEpochCap), 0L).toDouble)
      assert(r.getAs[Double]("marginal_value_last") === expected, s"$r")
      assert(r.getAs[Boolean]("diminished") === (ep >= 3L))
    }
  }
}
