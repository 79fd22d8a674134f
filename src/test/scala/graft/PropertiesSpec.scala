package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.streaming.EventStreams
import graft.streaming.EventStreams.SessionState

/** ScalaCheck properties (SURVEY §5.3): algebraic invariants that hold for
  * ALL inputs, not just the fixtures — session merging conservation and
  * separation, custom top-k ≡ window form, dedup idempotence.
  */
class PropertiesSpec extends SparkSuite {

  private def check(name: String, p: Prop, n: Int = 20): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("mergeAdjacent conserves events/totals and leaves only >= gap separations") {
    val genSessions: Gen[Vector[SessionState]] = for {
      n <- Gen.choose(0, 12)
      starts <- Gen.listOfN(n, Gen.choose(0L, 100L))
      lens <- Gen.listOfN(n, Gen.choose(0L, 20L))
      vals <- Gen.listOfN(n, Gen.choose(1, 9))
    } yield starts.lazyZip(lens).lazyZip(vals)
      .map((s, l, v) => SessionState(s, s + l, 1L, v.toDouble))
      .sortBy(s => (s.startMs, s.lastMs)).toVector
    val gap = 10L
    check("mergeAdjacent", Prop.forAll(genSessions) { sessions =>
      val merged = EventStreams.mergeAdjacent(sessions, gap)
      val conserved = merged.map(_.n).sum == sessions.map(_.n).sum &&
        merged.map(_.total).sum == sessions.map(_.total).sum // small-int doubles: exact
      val separated = merged.zip(merged.drop(1)).forall { case (a, b) =>
        b.startMs - a.lastMs >= gap
      }
      val covering = merged.forall(m => m.lastMs >= m.startMs)
      conserved && separated && covering
    }, n = 100)
  }

  test("native TopKPerKey equals the window formulation for arbitrary data and k") {
    val spark0 = spark
    import spark0.implicits._
    val genRows: Gen[List[(Int, Int)]] = Gen.listOf(
      Gen.zip(Gen.choose(0, 4), Gen.choose(-50, 50)))
    check("topk≡window", Prop.forAll(genRows, Gen.choose(1, 4)) { (rows, k) =>
      val df = rows.zipWithIndex.map { case ((key, v), id) => (key, v, id.toLong) }
        .toDF("key", "v", "id")
      val native = graft.functions.GraftOps.topKPerKey(
        df, Seq("key"), Seq(("v", true), ("id", false)), k).collect()
      val w = Window.partitionBy($"key").orderBy($"v".desc, $"id")
      val expected = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= k).drop("rn").collect()
      native.map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap ==
        expected.map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    }, n = 8)
  }

  test("sweep kernels equal brute force on random intervals incl. midnight edges") {
    val spark0 = spark
    import spark0.implicits._
    // 3-day universe; half the lengths are uniform, half snap e EXACTLY to
    // the next midnight — the marker-placement edge case ((e-1) div 86400)
    val genIv: Gen[List[(Long, Long)]] = Gen.choose(1, 20).flatMap(k =>
      Gen.listOfN(k, for {
        s <- Gen.choose(0L, 3L * 86400L - 1)
        len <- Gen.oneOf(Gen.choose(1L, 5000L), Gen.const(86400L - s % 86400L))
      } yield (s, s + len)))
    check("sweep≡brute", Prop.forAll(genIv) { iv =>
      val df = iv.toDF("s", "e")
      val peak = graft.queries.Analytics.peakConcurrencyOf(df).collect()
        .map(r => r.getAs[Long]("day") ->
          (r.getAs[Long]("peak_concurrency"), r.getAs[Long]("n_open"))).toMap
      val cov = graft.queries.Analytics.coverageOf(df).collect()
        .map(r => r.getAs[Long]("day") -> r.getAs[Long]("covered_sec")).toMap
      def live(t: Long) = iv.count { case (s, e) => s <= t && t < e }.toLong
      val days = iv.flatMap { case (s, e) =>
        val ds = Math.floorDiv(s, 86400L); val dc = Math.floorDiv(e - 1, 86400L)
        if (dc > ds) Seq(ds, dc) else Seq(ds)
      }.distinct
      val expected = days.map { d =>
        val lo = d * 86400L; val hi = lo + 86400L
        val starts = iv.map(_._1).filter(t => Math.floorDiv(t, 86400L) == d)
        val pk = (lo +: starts).map(live).max
        val opens = iv.count { case (s, e) =>
          Math.floorDiv(s, 86400L) == d ||
            (Math.floorDiv(e - 1, 86400L) == d && Math.floorDiv(s, 86400L) < d)
        }.toLong
        val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
          .filter { case (s, e) => s < e }.sorted
        var covered = 0L; var cs = -1L; var ce = -1L
        clipped.foreach { case (s, e) =>
          if (ce < 0 || s > ce) { if (ce >= 0) covered += ce - cs; cs = s; ce = e }
          else ce = math.max(ce, e)
        }
        if (ce >= 0) covered += ce - cs
        d -> ((pk, opens), covered)
      }.toMap
      peak == expected.view.mapValues(_._1).toMap &&
        cov == expected.view.mapValues(_._2).toMap
    }, n = 15)
  }

  test("distributed connected components equals local union-find on random graphs") {
    val spark0 = spark
    import spark0.implicits._
    // node universe and case count kept small: every propagation ROUND is
    // several Spark jobs, so property cost is diameter-bound, not row-bound
    val genEdges: Gen[List[(Long, Long)]] = Gen.choose(1, 12).flatMap(k =>
      Gen.listOfN(k,
        Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)).suchThat { case (a, b) => a != b }))
    check("cc≡union-find", Prop.forAll(genEdges) { edges =>
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      val got = graft.ext.Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expected
    }, n = 4)
    spark.catalog.clearCache()
  }

  test("connected components converges on a 60-node chain well under the round cap") {
    val spark0 = spark
    import spark0.implicits._
    // a path graph is the worst case for plain min-label propagation
    // (rounds = diameter, here 59 — over the default cap of 20); the
    // pointer-jumping step makes rounds O(log d), so this converges with
    // the DEFAULT cap. Also exercises the maxIters parameter surface.
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = graft.ext.Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length === 60)
    assert(labels.forall(_._2 == 0L), "every chain node must label to the min id 0")
    spark.catalog.clearCache()
  }

  test("double string-replace merge equals greedy left-to-right BPE merge for ALL inputs") {
    // the structural claim behind TextOps.bpeApplyPair: one greedy BPE
    // merge pass over a space-separated symbol string is EXACTLY one
    // replace(' ' || doubled(seg) || ' ', ' a  b ', ' ab ') over the
    // string with every separator doubled, then the doubled spaces
    // collapsed. Both engines implement replace as a left-to-right
    // non-overlapping scan — Java String.replace has the same semantics,
    // so proving the claim against it on adversarial alphabets
    // (self-pairs, symbols that are concatenations/prefixes of each
    // other, chained occurrences) proves it for the engines; the
    // NewOpsSpec replay covers the engine wiring.
    def viaReplace(syms: Seq[String], a: String, b: String): Vector[String] =
      (" " + syms.mkString(" ").replace(" ", "  ") + " ")
        .replace(" " + a + "  " + b + " ", " " + a + b + " ")
        .replace("  ", " ")
        .trim.split(" ", -1).filter(_.nonEmpty).toVector
    def greedy(syms: Seq[String], a: String, b: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val v = syms.toVector
      var i = 0
      while (i < v.length) {
        if (i < v.length - 1 && v(i) == a && v(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += v(i); i += 1 }
      }
      out.toVector
    }
    // a self-pair run of five: two plain ' c c ' replaces skip a pair here
    val run5 = Seq.fill(5)("c")
    assert(greedy(run5, "c", "c") === Vector("cc", "cc", "c"))
    assert(viaReplace(run5, "c", "c") === greedy(run5, "c", "c"))
    val sym = Gen.oneOf("a", "b", "c", "ab", "ba", "aa", "bb", "aab")
    val genSeq = Gen.listOf(sym).map(_.take(30))
    val genPair = Gen.zip(sym, sym)
    check("replace≡greedy", Prop.forAll(genSeq, genPair) { case (syms, (a, b)) =>
      viaReplace(syms, a, b) == greedy(syms, a, b)
    }, n = 500)
  }

  test("dropDuplicates is idempotent and matches the set-theoretic count") {
    val spark0 = spark
    import spark0.implicits._
    val genRows: Gen[List[(Int, Int)]] = Gen.listOf(
      Gen.zip(Gen.choose(0, 3), Gen.choose(0, 3)))
    check("dedup", Prop.forAll(genRows) { rows =>
      val df = rows.toDF("a", "b")
      val once = df.dropDuplicates()
      once.count() == rows.toSet.size && once.dropDuplicates().count() == rows.toSet.size
    }, n = 8)
  }

  test("semantic screen is shard-decomposable under ANY split of the arrivals") {
    // the E328 composition law as a property, not a two-shard example:
    // under a FROZEN quantizer, screen(A) ∪ screen(B) == screen(A ∪ B)
    // for EVERY partition of the arrivals — the spec's fixture checks one
    // split; this checks arbitrary ones (modulus + remainder drawn by
    // ScalaCheck). Few trials: each evaluates three Spark screens.
    import graft.ext.Similarity
    import graft.model.Tables
    val all = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"),
      transform(col("embedding"), _.cast("double")).as("e"))
    val evalE = all.filter(col("vec_id") % 50 === 0)
    val base = all.filter(col("vec_id") % 50 =!= 0 && col("vec_id") < 250)
    val arrivals = all.filter(col("vec_id") % 50 =!= 0 && col("vec_id") >= 250)
      .select(col("vec_id"), col("e"))
      .unionAll(evalE.select((-col("vec_id") - 1).as("vec_id"),
        expr(Similarity.reembedExpr).as("e")))
      .localCheckpoint(true)
    val qArr = Similarity.centroidArrayOfE(base, None).persist()
    qArr.count()
    val evalA = Similarity.semanticEvalAssign(evalE, qArr).localCheckpoint(true)
    def screen(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Similarity.semanticScreenWith(df.select(col("vec_id"), col("e")), evalA, qArr)
        .collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("eval_vec_id"))).toSet
    val whole = screen(arrivals)
    assert(whole.nonEmpty, "planted re-embeds must flag")
    val genSplit: Gen[(Int, Int)] = for {
      m <- Gen.choose(2, 7); r <- Gen.choose(0, m - 1)
    } yield (m, r)
    check("semantic shard-decomposability", Prop.forAll(genSplit) { case (m, r) =>
      val a = arrivals.filter(pmod(col("vec_id"), lit(m)) === r)
      val b = arrivals.filter(pmod(col("vec_id"), lit(m)) =!= r)
      (screen(a) | screen(b)) == whole
    }, n = 5)
    qArr.unpersist()
  }

  test("stream-table compaction preserves row identity for ANY batch split, compaction point, and target") {
    // the E342 row-identity law as a property: for EVERY assignment of
    // rows to batch dirs, EVERY committed-through point, and EVERY merge
    // target, read-after-compact == read-before — including a SECOND
    // compaction that absorbs the rest on top of the first generation.
    // Few trials: each runs two rewrite jobs.
    import graft.streaming.StreamTable
    val spark0 = spark
    import spark0.implicits._
    val genCase: Gen[(List[(Int, Long)], Int, Long)] = for {
      k <- Gen.choose(1, 4) // batch count
      n <- Gen.choose(0, 30) // row count
      asg <- Gen.listOfN(n, Gen.choose(0, k - 1)) // row -> batch
      cut <- Gen.choose(0, k - 1) // first compaction's high-water
      target <- Gen.oneOf(1L, 3L, 1000L) // merge-group target rows
    } yield (asg.zipWithIndex.map { case (b, i) => (b, i.toLong) }, cut, target)
    check("compaction row identity", Prop.forAll(genCase) {
      case (rows, cut, target) =>
        val root = java.nio.file.Files
          .createTempDirectory("graft_ct_prop").toString + "/t"
        val k = (rows.map(_._1) :+ cut).max + 1
        (0 until k).foreach { b =>
          // repartition(1), not coalesce: an EMPTY batch must still write
          // a footer-bearing part file (coalesce of a 0-partition local
          // relation writes only _SUCCESS — unreadable), matching the
          // real appenders, whose repartitioned micro-batch frames always
          // carry at least one partition
          rows.filter(_._1 == b).map { case (_, id) => (id, id * 7L) }
            .toDF("doc_id", "v").repartition(1)
            .write.mode("overwrite").parquet(s"$root/batch_id=$b")
        }
        def read() = StreamTable.read(spark, root).collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("v"),
            r.getAs[Long]("batch_id"))).toSet
        val expected = rows.map { case (b, id) => (id, id * 7L, b.toLong) }.toSet
        val before = read() == expected
        StreamTable.compact(spark, root, cut.toLong, Seq.empty, target)
        val mid = read() == expected
        StreamTable.compact(spark, root, (k - 1).toLong, Seq.empty, target)
        val after = read() == expected
        before && mid && after
    }, n = 6)
  }
}
