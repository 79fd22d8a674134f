package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Exact.{orderedSum, quantLog, quantLogSql}
import graft.Exec
import graft.model.Tables

/** Similarity-search operators over the `embeddings` table
  * (`Array[Float]`, 64-dim): brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane LSH-bucketed variant as the scale
  * path. Dot products use the custom codegen'd Catalyst expression
  * [[graft.functions.VectorDot]] (a fused loop in whole-stage codegen —
  * measured ~25% faster end-to-end than the `zip_with`+`aggregate`
  * higher-order formulation it replaced, whose lambdas run interpreted);
  * elements are widened float→double BEFORE multiplication so both
  * engines do identical double arithmetic, and the sum is strictly
  * sequential in element order — bit-identical to both the higher-order
  * formulation (VectorDotSpec proves it) and DuckDB's
  * `list_dot_product` over `DOUBLE[]`.
  *
  * The vector geometry built on [[dot]] is written once per engine,
  * beside it, and every site calls it: [[norm]] `sqrt(v·v)`, [[cosine]]
  * `a·b / (na * nb)` (the norm product first, then one division) and
  * [[sqDist]] `(a·a − 2·a·b) + b·b` (left to right), each with a
  * `...Sql` twin that spells the same association in DuckDB — a site
  * that regrouped the arithmetic would round differently and break
  * oracle ties.
  *
  * Scale design (100 TB):
  *   - Brute force is O(Q×N) with the query set BROADCAST — correct only
  *     while Q is small (it is: ad-hoc probes). The join is a broadcast
  *     nested-loop on a non-equi predicate (q_id != vec_id): no shuffle of
  *     the candidate side, scan stays pipelined.
  *   - Norms are precomputed per side BEFORE the join (narrow projection),
  *     not per pair — at N candidates × Q queries that's N+Q sqrt's
  *     instead of N×Q.
  *   - The LSH variant replaces the O(N) probe with an EQUI-join on the
  *     hyperplane-sign bucket: candidates shuffle once by bucket (or are
  *     pre-bucketed at write time), each query touches ~N/2^b rows. This
  *     is the IVF-style partition-pruned path that survives 100 TB.
  */
object Similarity {

  final val topK = 5
  final val nQueryVecs = 3

  /** The embeddings widened to double: `(vec_id, e: array<double>)`. */
  private def embE(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))

  /** Sequential-fold dot product of two vector columns, in double. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vector_dot(a, b)

  /** Euclidean norm `sqrt(v·v)`: one [[dot]] of the vector with itself,
    * then one square root. DuckDB twin: [[normSql]].
    */
  private def norm(v: Column): Column = sqrt(dot(v, v))

  /** DuckDB text of [[norm]]: `sqrt(list_dot_product(v, v))`. */
  private def normSql(v: String): String = s"sqrt(list_dot_product($v, $v))"

  /** Cosine of `a` and `b` from their norms `an`, `bn`: `a·b / (an * bn)`.
    * The norm product is formed first, then one division — never
    * `a·b / an / bn`, which rounds differently and breaks oracle ties.
    * DuckDB twin: [[cosineSql]].
    */
  private def cosine(a: Column, an: Column, b: Column, bn: Column): Column =
    dot(a, b) / (an * bn)

  /** DuckDB text of [[cosine]]: `list_dot_product(a, b) / (an * bn)`. */
  private def cosineSql(a: String, an: String, b: String, bn: String): String =
    s"list_dot_product($a, $b) / ($an * $bn)"

  /** Squared distance `||a − b||²` from the self-dots `aa` = a·a and
    * `bb` = b·b, associated left to right: `(aa − 2·(a·b)) + bb`. Every
    * nearest-centroid rank in both engines takes this one association.
    * DuckDB twin: [[sqDistSql]].
    */
  private def sqDist(aa: Column, a: Column, b: Column, bb: Column): Column =
    aa - lit(2) * dot(a, b) + bb

  /** DuckDB text of [[sqDist]]: `aa - 2 * list_dot_product(a, b) + bb`. */
  private def sqDistSql(aa: String, a: String, b: String, bb: String): String =
    s"$aa - 2 * list_dot_product($a, $b) + $bb"

  /** Spark-SQL sequential dot product (for use inside `expr` lambdas where
    * the [[graft.functions.VectorDot]] Column can't reach): bit-identical
    * to VectorDot (VectorDotSpec) and DuckDB's `list_dot_product`.
    */
  private def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0 as double), (acc, p) -> acc + p)"

  /** Spark-SQL text of [[sqDist]], for `expr` lambdas: `aa - 2 * a·b + bb`. */
  private def sqDistExprSql(aa: String, a: String, b: String, bb: String): String =
    s"$aa - 2 * ${dotExpr(a, b)} + $bb"

  // ------------------------------------------------------------------
  // Brute-force cosine top-k (exact baseline)
  // ------------------------------------------------------------------

  def qEmbCosineTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < nQueryVecs)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      .withColumn("q_norm", norm(col("qe")))
    val c = emb.filter(col("vec_id") >= nQueryVecs)
      .select(col("vec_id"), col("embedding").as("ce"))
      .withColumn("c_norm", norm(col("ce")))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  val qEmbCosineTopkSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS q_norm
       |  FROM embeddings WHERE vec_id < $nQueryVecs
       |),
       |c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS c_norm
       |  FROM embeddings WHERE vec_id >= $nQueryVecs
       |),
       |scored AS (
       |  SELECT q_id, vec_id,
       |    ${cosineSql("qe", "q_norm", "ce", "c_norm")} AS cosine
       |  FROM c, q
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored
       |)
       |SELECT q_id, rank, vec_id, cosine FROM ranked
       |WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // Hard-negative mining (label-filtered cosine top-k)
  // ------------------------------------------------------------------

  /** Hard-negative mining for contrastive training: for each query
    * vector, the [[topK]] most-similar candidates whose LABEL DIFFERS
    * from the query's — the near-misses a retrieval model must learn to
    * push apart. Same broadcast-query scan shape as [[qEmbCosineTopk]]
    * (norms hoisted per side, candidate corpus never shuffles for the
    * scoring), but the per-query top-k runs on the native
    * [[graft.plans.TopKPerKey]] operator: bounded heaps per q_id, no
    * per-query sort, no window exchange of the Q×N scored rows — only
    * the q_id-keyed exchange of heap survivors.
    *
    * Scale: O(Q×N) scoring with Q broadcast (ad-hoc mining batches are
    * small); for corpus-scale mining swap the candidate side's scan for
    * the LSH/IVF bucket probe ([[qEmbAnnLsh]]/[[qEmbAnnIvf]]) — the
    * label filter composes unchanged.
    */
  def qEmbHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < nQueryVecs)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qe"))
      .withColumn("q_norm", norm(col("qe")))
    val c = emb.filter(col("vec_id") >= nQueryVecs)
      .select(col("vec_id"), col("label").as("c_label"), col("embedding").as("ce"))
      .withColumn("c_norm", norm(col("ce")))
    val scored = c.join(broadcast(q), col("q_label") =!= col("c_label"))
      .select(col("q_id"), col("vec_id"), col("c_label"),
        cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
    graft.functions.GraftOps.topKPerKey(scored,
        keys = Seq("q_id"), order = Seq(("cosine", true), ("vec_id", false)), k = topK)
      .orderBy(col("q_id"), col("cosine").desc, col("vec_id"))
  }

  val qEmbHardNegativesSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, label AS q_label, CAST(embedding AS DOUBLE[]) AS qe,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS q_norm
       |  FROM embeddings WHERE vec_id < $nQueryVecs
       |),
       |c AS (
       |  SELECT vec_id, label AS c_label, CAST(embedding AS DOUBLE[]) AS ce,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS c_norm
       |  FROM embeddings WHERE vec_id >= $nQueryVecs
       |),
       |scored AS (
       |  SELECT q_id, vec_id, c_label,
       |    ${cosineSql("qe", "q_norm", "ce", "c_norm")} AS cosine
       |  FROM c JOIN q ON q_label <> c_label
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
       |  FROM scored
       |)
       |SELECT q_id, vec_id, c_label, cosine FROM ranked
       |WHERE rn <= $topK ORDER BY q_id, cosine DESC, vec_id""".stripMargin

  // ------------------------------------------------------------------
  // LSH-bucketed ANN (random-hyperplane signs; IVF-style scale path)
  // ------------------------------------------------------------------

  final val lshPlanes = 4
  final val embDim = 64

  /** Deterministic ±1 hyperplane components, shared verbatim with the
    * oracle SQL (pseudo-random via a fixed integer mix — no RNG, so both
    * engines and every run agree).
    */
  def planeSign(plane: Int, i: Int): Int =
    if (((i * 73 + (plane + 1) * 151) % 7) % 2 == 0) 1 else -1

  /** One Literal node per plane (`typedlit` over the whole vector), NOT
    * `array(lit, lit, …)`: a CreateArray of 64 literal children per plane
    * × 24 planes inlined ~1 500 expression nodes into whole-stage codegen
    * and cost ~8 s of one-time Janino/JIT compilation on the first run of
    * every LSH query (measured; warm runs were 1-2 s). A single array
    * constant keeps the generated method tiny.
    */
  private def planeLit(plane: Int): Column =
    typedlit((0 until embDim).map(i => planeSign(plane, i).toDouble))

  // single-table bucket = table 0 of the multi-table family (defined
  // below with qEmbNearDup) — ONE formula, two arities, so the LSH
  // variants and their oracles cannot drift apart
  private def bucketCol(emb: Column): Column = tableBucketCol(0, emb)
  private def bucketSql(e: String): String = tableBucketSql(0, e)

  /** The single-table LSH bucket as a public write-time key: what a
    * bucketed vector index stores per row, so the probe's bucket equi-join
    * pays ZERO exchange at query time ([[graft.etl.Bucketing.writeBucketed]]
    * keyed on this column; BucketingSpec proves the exchange-free probe).
    * Input must be `array<double>` (cast `array<float>` embeddings first).
    */
  def lshBucketCol(emb: Column): Column = bucketCol(emb)

  private def planeSqlList(plane: Int): String =
    (0 until embDim).map(i => s"${planeSign(plane, i)}.0").mkString("[", ", ", "]")

  def qEmbAnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < nQueryVecs)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      .withColumn("q_norm", norm(col("qe")))
      .withColumn("bucket", bucketCol(col("qe")))
    val c = emb.filter(col("vec_id") >= nQueryVecs)
      .select(col("vec_id"), col("embedding").as("ce"))
      .withColumn("c_norm", norm(col("ce")))
      .withColumn("bucket", bucketCol(col("ce")))
    // the whole point: EQUI-join on bucket — each query probes one bucket
    val scored = c.join(broadcast(q.withColumnRenamed("bucket", "q_bucket")),
        col("q_bucket") === col("bucket"))
      .select(col("q_id"), col("vec_id"), col("bucket"),
        cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("bucket"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  val qEmbAnnLshSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS q_norm,
       |    ${bucketSql("CAST(embedding AS DOUBLE[])")} AS q_bucket
       |  FROM embeddings WHERE vec_id < $nQueryVecs
       |),
       |c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS c_norm,
       |    ${bucketSql("CAST(embedding AS DOUBLE[])")} AS bucket
       |  FROM embeddings WHERE vec_id >= $nQueryVecs
       |),
       |scored AS (
       |  SELECT q_id, vec_id, bucket,
       |    ${cosineSql("qe", "q_norm", "ce", "c_norm")} AS cosine
       |  FROM c JOIN q ON c.bucket = q.q_bucket
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, bucket, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored
       |)
       |SELECT q_id, rank, vec_id, bucket, cosine FROM ranked
       |WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // Multi-probe LSH: recall back without more tables
  // ------------------------------------------------------------------

  /** Probe-count arms for the multi-probe sweep (1 = plain single-bucket
    * LSH, 3 = base + the two lowest-margin bit flips).
    */
  final val multiprobeArms: Seq[Int] = Seq(1, 3)

  /** MULTI-PROBE LSH sweep (Lv et al., VLDB 2007): instead of paying
    * more hash TABLES for recall (the [[qEmbNearDup]] L-table route —
    * L× the index size), probe the buckets most likely to hide near
    * neighbors: flip the sign bits with the SMALLEST |margin| (the
    * planes the query sits closest to). Each arm reports candidates
    * touched and recall@k against the exact cosine arm — the
    * index-size-vs-recall decision table next to the IVF nprobe sweep
    * (same contract, orthogonal knob: nprobe widens a coarse-quantizer
    * probe, multi-probe widens a sign-hash probe at ZERO extra index
    * bytes).
    *
    * Determinism: margins are the engines' identical dot-product
    * doubles; the flip order sorts (|margin|, plane) — total order, so
    * probe sets are engine-exact; everything downstream is the
    * [[qEmbAnnLsh]] equi-join shape.
    *
    * Scale (100 TB): probes multiply the QUERY side only (T rows per
    * query); candidates never re-shuffle (pre-bucketed by
    * [[lshBucketCol]] at write time → exchange-free probe), and
    * per-arm cost is measured, not guessed — the n_candidates column
    * IS the scan-cost model.
    */
  def qEmbLshMultiprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = Exec.share(qEmbCosineTopk(spark, sfDir)
      .select(col("q_id"), col("vec_id")))
    val emb = Tables.embeddings(spark, sfDir)
    val q0 = emb.filter(col("vec_id") < nQueryVecs)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), _.cast("double")).as("qe"))
      .withColumn("q_norm", norm(col("qe")))
      .withColumn("bucket", bucketCol(col("qe")))
    val planes = array((0 until lshPlanes).map(p =>
      struct(abs(dot(col("qe"), planeLit(p))).as("am"), lit(p).as("p"))): _*)
    val q = q0.withColumn("sorted", array_sort(planes))
      .withColumn("f1", element_at(col("sorted"), 1).getField("p"))
      .withColumn("f2", element_at(col("sorted"), 2).getField("p"))
      .select(col("q_id"), col("qe"), col("q_norm"), col("bucket"),
        col("f1"), col("f2"))
    val c = emb.filter(col("vec_id") >= nQueryVecs)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("ce"))
      .withColumn("c_norm", norm(col("ce")))
      .withColumn("bucket", bucketCol(col("ce")))
    val arms = multiprobeArms.map { t =>
      val probes =
        if (t == 1) expr("array(bucket)")
        else expr("array(bucket, bucket ^ shiftleft(1, f1), bucket ^ shiftleft(1, f2))")
      val qp = q.select(col("q_id"), col("qe"), col("q_norm"),
        explode(probes).as("pb"))
      val scored = c.join(broadcast(qp), col("bucket") === col("pb"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
        .persist()
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val ann = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK).select(col("q_id"), col("vec_id"))
      val nCand = scored.agg(count(lit(1)).as("n_candidates"))
      val exC = exact.agg(count(lit(1)).as("n_exact"))
      val ovC = exact.join(ann, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("n_overlap"))
      nCand.crossJoin(broadcast(exC)).crossJoin(broadcast(ovC))
        .select(lit(t).as("n_probes"), col("n_candidates"), col("n_exact"),
          col("n_overlap"),
          (col("n_overlap").cast("double") / col("n_exact").cast("double"))
            .as("recall_at_k"))
    }
    arms.reduce(_ unionAll _).orderBy(col("n_probes"))
  }

  val qEmbLshMultiprobeSql: String = {
    val margins = (0 until lshPlanes).map(p =>
      s"{'am': abs(list_dot_product(qe, CAST(${planeSqlList(p)} AS DOUBLE[]))), 'p': $p}")
      .mkString("[", ", ", "]")
    def arm(t: Int): String = {
      val probeList =
        if (t == 1) "[bucket]"
        else "[bucket, xor(bucket, 1 << f1), xor(bucket, 1 << f2)]"
      s"""qp$t AS (
         |  SELECT q_id, qe, q_norm, unnest($probeList) AS pb FROM q
         |),
         |sc$t AS (
         |  SELECT q_id, c.vec_id,
         |    ${cosineSql("qe", "q_norm", "ce", "c_norm")} AS cosine
         |  FROM c JOIN qp$t ON c.bucket = qp$t.pb
         |),
         |rk$t AS (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM sc$t
         |),
         |ann$t AS (SELECT q_id, vec_id FROM rk$t WHERE rank <= $topK),
         |cnt$t AS (
         |  SELECT $t AS n_probes,
         |    (SELECT count(*) FROM sc$t) AS n_candidates,
         |    (SELECT count(*) FROM ex) AS n_exact,
         |    (SELECT count(*) FROM ex JOIN ann$t USING (q_id, vec_id)) AS n_overlap
         |)""".stripMargin
    }
    val unions = multiprobeArms.map(t =>
      s"""SELECT n_probes, CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_exact AS BIGINT) AS n_exact, CAST(n_overlap AS BIGINT) AS n_overlap,
         |  CAST(n_overlap AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_at_k
         |FROM cnt$t""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH ex AS (SELECT q_id, vec_id FROM ($qEmbCosineTopkSql)),
       |qm AS (
       |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS q_norm,
       |    ${bucketSql("CAST(embedding AS DOUBLE[])")} AS bucket,
       |    list_sort($margins) AS sorted
       |  FROM embeddings WHERE vec_id < $nQueryVecs
       |),
       |q AS (
       |  SELECT q_id, qe, q_norm, bucket, sorted[1].p AS f1, sorted[2].p AS f2
       |  FROM qm
       |),
       |c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS c_norm,
       |    ${bucketSql("CAST(embedding AS DOUBLE[])")} AS bucket
       |  FROM embeddings WHERE vec_id >= $nQueryVecs
       |),
       |${multiprobeArms.map(arm).mkString(",\n")}
       |$unions
       |ORDER BY n_probes""".stripMargin
  }

  // ------------------------------------------------------------------
  // Embedding-cosine near-dup (LSH-bucketed pair mining)
  // ------------------------------------------------------------------

  final val nearDupThreshold = 0.8

  /** Independent LSH tables OR'd together for near-dup mining: a pair is a
    * candidate if it collides in ANY table — the classic L-table
    * construction (recall 1-(1-p^b)^L vs p^b for one table). Table t uses
    * hyperplanes t*lshPlanes .. t*lshPlanes+lshPlanes-1.
    */
  final val lshTables = 6

  private def tableBucketCol(t: Int, emb: Column): Column =
    (0 until lshPlanes)
      .map(p => when(dot(emb, planeLit(t * lshPlanes + p)) >= 0, 1 << p).otherwise(0))
      .reduce((a, b) => a + b)

  private def tableBucketSql(t: Int, e: String): String =
    (0 until lshPlanes)
      .map(p => s"(CASE WHEN list_dot_product($e, CAST(${planeSqlList(t * lshPlanes + p)} AS DOUBLE[])) >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")

  /** Near-duplicate detection by embedding cosine — the vector-space
    * member of the dedup family ([[Dedup]] covers the lexical members).
    * Corpus-wide pair mining, NOT a per-query probe: every vector is
    * bucketed by hyperplane signs in [[lshTables]] independent tables and
    * candidate pairs come from a self EQUI-join on (table, bucket) —
    * never an all-pairs cross join. At 100 TB that one equi-join shuffle
    * (or a pre-bucketed write) is the entire cost; per-bucket fan-out is
    * bounded by bucket size, and the multi-table OR recovers the recall a
    * single sign-hash table loses (measured on the injected pairs below:
    * 7/20 with one table, 10/20 with three, 14/20 with six).
    *
    * The synthetic corpus has no natural near-dups (background max pair
    * cosine ≈ 0.51 at sf0.01), so every 25th vector is re-injected with
    * +0.5 on its first component (cosine ≈ 0.88–0.91 vs its source) —
    * the dup-injection pattern of [[Dedup]]. Arithmetic is float→double
    * widening BEFORE the perturbation so both engines compute identical
    * doubles. Remaining recall loss (a copy flipping a sign bit in every
    * table) is deterministic and mirrored exactly by the oracle.
    */
  def qEmbNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = embE(spark, sfDir)
    val perturbed = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("e"), 1) + lit(0.5)), slice(col("e"), 2, embDim - 1)).as("e"))
    // one pass computes norm + all 6 table buckets (24 plane dots), shared
    // by the bands and both cosine probes (at scale: a bucketed index)
    val corpus = Exec.share(emb.unionAll(perturbed)
      .withColumn("norm", norm(col("e")))
      .withColumn("buckets",
        array((0 until lshTables).map(t => tableBucketCol(t, col("e"))): _*)))
    val bands = corpus.select(col("vec_id"),
      posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val sa = corpus.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("norm").as("na"))
    val sb = corpus.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("norm").as("nb"))
    cand.join(sa, "vec_a").join(sb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosine(col("ea"), col("na"), col("eb"), col("nb")).as("cosine"))
      .filter(col("cosine") >= nearDupThreshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val qEmbNearDupSql: String = {
    val bandSelects = (0 until lshTables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${tableBucketSql(t, "e")} AS bucket FROM corpus"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |),
       |corpus AS (
       |  SELECT vec_id, e FROM base
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, list_concat([e[1] + 0.5], e[2:]) AS e
       |  FROM base WHERE vec_id % 25 = 0
       |),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands a JOIN bands b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |),
       |normed AS (
       |  SELECT vec_id, e, ${normSql("e")} AS norm FROM corpus
       |)
       |SELECT vec_a, vec_b,
       |  ${cosineSql("sa.e", "sa.norm", "sb.e", "sb.norm")} AS cosine
       |FROM cand
       |JOIN normed sa ON cand.vec_a = sa.vec_id
       |JOIN normed sb ON cand.vec_b = sb.vec_id
       |WHERE ${cosineSql("sa.e", "sa.norm", "sb.e", "sb.norm")} >= $nearDupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ------------------------------------------------------------------
  // Score calibration: is cosine a trustworthy relevance probability?
  // ------------------------------------------------------------------

  /** Number of fixed-width cosine bins over [−1, 1] for the
    * calibration table.
    */
  final val calibBins = 20

  /** RETRIEVAL SCORE CALIBRATION (the reliability diagram for cosine):
    * every eval-query/candidate pair binned by cosine into
    * [[calibBins]] fixed-width cells with the measured label-match
    * precision per cell — the table that turns a raw similarity into
    * an operating threshold honestly ("above 0.4 the match rate is
    * 80%") where [[qEmbRetrievalEval]]/[[qEmbNdcg]] grade RANKINGS
    * without saying what any absolute score means. A score that is
    * monotone-in-precision calibrates into a cutoff; one that isn't
    * tells you cosine cannot gate this corpus and the threshold knobs
    * ([[nearDupThreshold]], [[decontamCos]]) need per-corpus tuning.
    *
    * Exactness: bins partition on the engines' identical cosine
    * doubles (one multiply + floor, clamped); counts are exact
    * BIGINTs; precision is one division per cell.
    *
    * Scale (100 TB): the scoring scan is the [[qEmbCosineTopk]]
    * broadcast-queries shape (Q×N stream, never materialized); the
    * bin aggregate collapses it map-side to ≤ [[calibBins]] rows per
    * task — the whole reliability diagram costs one pass.
    */
  def qEmbScoreCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = evalSides(spark, sfDir)
    val half = calibBins / 2
    c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(
        least(lit((calibBins - 1).toLong), greatest(lit(0L),
          floor((cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")) +
            lit(1.0)) * half).cast("long"))).as("bin"),
        when(col("label") === col("q_label"), 1L).otherwise(0L).as("m"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("m")).as("n_match"))
      .select(col("bin"),
        (col("bin").cast("double") / half - 1.0).as("cos_lo"),
        col("n_pairs"), col("n_match"),
        (col("n_match").cast("double") / col("n_pairs").cast("double"))
          .as("precision"))
      .orderBy(col("bin"))
  }

  val qEmbScoreCalibrationSql: String = {
    val half = calibBins / 2
    s"""WITH $evalSidesSql,
       |binned AS (
       |  SELECT
       |    least(${calibBins - 1}, greatest(0, CAST(floor(
       |      (${cosineSql("qe", "q_norm", "ce", "c_norm")} + CAST(1.0 AS DOUBLE))
       |        * $half) AS BIGINT))) AS bin,
       |    CASE WHEN label = q_label THEN 1 ELSE 0 END AS m
       |  FROM c, q WHERE q_id <> vec_id
       |)
       |SELECT bin, CAST(bin AS DOUBLE) / $half - 1.0 AS cos_lo,
       |  count(*) AS n_pairs, CAST(sum(m) AS BIGINT) AS n_match,
       |  CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS precision
       |FROM binned
       |GROUP BY bin
       |ORDER BY bin""".stripMargin
  }

  // ------------------------------------------------------------------
  // Margin-based mutual nearest neighbors: bitext-style pair mining
  // ------------------------------------------------------------------

  /** Cosine fixed-point scale and output cap for the mutual-NN miner. */
  final val mutualCosScale = 1000000L
  final val mutualTopN = 20

  /** MARGIN-BASED MUTUAL NEAREST NEIGHBORS (the Artetxe–Schwenk bitext-
    * mining criterion): a candidate pair survives only if each side is
    * the other's best match (mutuality kills hub vectors that are
    * "everyone's neighbor") and the RUNNER-UP MARGIN — pair cosine
    * minus the better of the two sides' second-best cosines (the
    * "margin = a − b" variant) — is positive: the pair must beat every
    * alternative either side has, which is what absolute thresholds
    * cannot express when similarity scales drift per vector. The
    * standard high-precision pair miner for parallel-corpus alignment
    * and cross-dataset record matching, layered here over the
    * [[qEmbNearDup]] injected corpus so the planted pairs dominate the
    * margin ranking.
    *
    * Determinism: per-pair cosines quantize to exact micro-units, so
    * best/second-best selection and the margin are pure BIGINT
    * arithmetic (vectors with no runner-up get the cosine floor −1 as
    * sentinel); ordering is (quantized cosine, partner id) — total
    * order, engine-exact. No division anywhere.
    *
    * Scale (100 TB): candidates come from the single-table LSH bucket
    * equi-join (pre-bucketable at write time); per-vector bests are
    * src-keyed windows over bucket-bounded fan-out; means are one
    * src-keyed agg. No all-pairs term anywhere.
    */
  def qEmbMutualNn(spark: SparkSession, sfDir: String): DataFrame = {
    val base = embE(spark, sfDir)
    val perturbed = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("e"), 1) + lit(0.5)),
          slice(col("e"), 2, embDim - 1)).as("e"))
    val corpus = base.unionAll(perturbed)
      .withColumn("norm", norm(col("e")))
      .withColumn("bucket", bucketCol(col("e")))
    val a = corpus.select(col("vec_id").as("src"), col("e").as("ea"),
      col("norm").as("na"), col("bucket"))
    val b = corpus.select(col("vec_id").as("dst"), col("e").as("eb"),
      col("norm").as("nb"), col("bucket"))
    val directed = a.join(b, Seq("bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        floor(cosine(col("ea"), col("na"), col("eb"), col("nb")) *
          mutualCosScale).cast("long").as("qcos"))
    val wBest = Window.partitionBy(col("src"))
      .orderBy(col("qcos").desc, col("dst").asc)
    val ranked = directed.withColumn("rn", row_number().over(wBest))
    val best = ranked.filter(col("rn") === 1)
      .select(col("src"), col("dst"), col("qcos"))
    val second = ranked.filter(col("rn") === 2)
      .select(col("src"), col("qcos").as("q2"))
    val mutual = best.as("x")
      .join(best.as("y"), col("x.src") === col("y.dst") &&
        col("x.dst") === col("y.src") && col("x.src") < col("x.dst"))
      .select(col("x.src").as("vec_a"), col("x.dst").as("vec_b"),
        col("x.qcos").as("qcos"))
    mutual
      .join(second.select(col("src").as("vec_a"), col("q2").as("q2_a")),
        Seq("vec_a"), "left")
      .join(second.select(col("src").as("vec_b"), col("q2").as("q2_b")),
        Seq("vec_b"), "left")
      .select(col("vec_a"), col("vec_b"),
        (col("qcos").cast("double") / mutualCosScale).as("cosine"),
        (col("qcos") - greatest(coalesce(col("q2_a"), lit(-mutualCosScale)),
          coalesce(col("q2_b"), lit(-mutualCosScale)))).as("margin_q"))
      .withColumn("margin", col("margin_q").cast("double") / mutualCosScale)
      .orderBy(col("margin_q").desc, col("vec_a"), col("vec_b"))
      .limit(mutualTopN)
  }

  val qEmbMutualNnSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |),
       |corpus AS (
       |  SELECT vec_id, e,
       |    ${normSql("e")} AS norm,
       |    ${bucketSql("e")} AS bucket
       |  FROM (
       |    SELECT vec_id, e FROM base
       |    UNION ALL
       |    SELECT vec_id + 100000 AS vec_id, list_concat([e[1] + 0.5], e[2:]) AS e
       |    FROM base WHERE vec_id % 25 = 0
       |  )
       |),
       |directed AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    CAST(floor(${cosineSql("a.e", "a.norm", "b.e", "b.norm")} *
       |      $mutualCosScale) AS BIGINT) AS qcos
       |  FROM corpus a JOIN corpus b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |),
       |ranked AS (
       |  SELECT src, dst, qcos,
       |    row_number() OVER (PARTITION BY src ORDER BY qcos DESC, dst ASC) AS rn
       |  FROM directed
       |),
       |best AS (SELECT src, dst, qcos FROM ranked WHERE rn = 1),
       |second AS (SELECT src, qcos AS q2 FROM ranked WHERE rn = 2),
       |mutual AS (
       |  SELECT x.src AS vec_a, x.dst AS vec_b, x.qcos AS qcos
       |  FROM best x JOIN best y
       |    ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst
       |)
       |SELECT vec_a, vec_b,
       |  CAST(qcos AS DOUBLE) / $mutualCosScale AS cosine,
       |  CAST(qcos - greatest(COALESCE(sa.q2, -$mutualCosScale),
       |    COALESCE(sb.q2, -$mutualCosScale)) AS BIGINT) AS margin_q,
       |  CAST(qcos - greatest(COALESCE(sa.q2, -$mutualCosScale),
       |    COALESCE(sb.q2, -$mutualCosScale)) AS DOUBLE) / $mutualCosScale AS margin
       |FROM mutual
       |LEFT JOIN second sa ON sa.src = vec_a
       |LEFT JOIN second sb ON sb.src = vec_b
       |ORDER BY margin_q DESC, vec_a, vec_b
       |LIMIT $mutualTopN""".stripMargin

  // ------------------------------------------------------------------
  // IVF ANN: per-label centroids as coarse quantizer, nprobe cell probe
  // ------------------------------------------------------------------

  /** Per-label centroids in long format (label, i, c) — the coarse
    * quantizer that [[qEmbAnnIvf]] probes, and a feature-aggregation op
    * in its own right (per-class mean embedding). Cross-engine double
    * discipline: a plain `sum(double)` depends on partition/merge order,
    * and per-element DECIMAL quantization is ALSO unsafe (Spark's
    * double→decimal goes through Java's shortest-string representation,
    * DuckDB's through the exact binary expansion — they disagree in the
    * last digit for ~1 in 10³ values; observed as a 1-ulp centroid diff).
    * So the sum is a SEQUENTIAL double fold in vec_id order on both
    * sides (`aggregate` over a sorted collect_list here, `list_reduce`
    * over `list(… ORDER BY vec_id)` in DuckDB) — identical doubles by
    * construction. Oracle-protocol determinism; a production pipeline
    * would use the plain partial-aggregated `sum`.
    *
    * Scale: posexplode fans each vector into 64 rows, then one groupBy;
    * output is k×dim rows regardless of input size.
    */
  def qEmbLabelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    centroidsLong(spark, sfDir).orderBy(col("label"), col("i"))

  private def centroidsLong(spark: SparkSession, sfDir: String): DataFrame =
    centroidsLongOf(Tables.embeddings(spark, sfDir))

  private def centroidsLongOf(embIn: DataFrame): DataFrame =
    centroidsLongOfE(embIn.select(col("vec_id"), col("label"),
      transform(col("embedding"), _.cast("double")).as("e")))

  /** [[centroidsLongOf]] over a frame already carrying `e: array<double>`
    * — the seam for quantizers trained on DERIVED vectors (the
    * drift-shifted batch of [[qEmbIvfRebuild]]'s union retrain), where
    * casting per element after the fact would double-round. */
  private def centroidsLongOfE(embIn: DataFrame): DataFrame =
    embIn
      .select(col("vec_id"), col("label"), posexplode(col("e")).as(Seq("pos0", "xd")))
      .select(col("vec_id"), col("label"), (col("pos0") + 1).as("i"), col("xd"))
      .groupBy(col("label"), col("i"))
      .agg((orderedSum("vec_id", "xd") / count(lit(1))).as("c"))

  /** The centroid CTE chain with a caller-supplied embeddings filter and
    * source-CTE name — the oracle-side seam matching [[centroidArrayOf]],
    * so a filtered quantizer (the [[qEmbIvfIncremental]] frozen base) can
    * never drift from the pinned sequential-fold determinism rule. */
  private def centroidsLongSqlFrom(where: String, eName: String = "e"): String =
    s"""$eName AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings$where),
       |pos AS (SELECT unnest(generate_series(1, $embDim)) AS i),
       |${centroidsLongSqlOver(eName, "")}""".stripMargin

  /** The centroid-fold CTE over an arbitrary (vec_id, label, v) source CTE
    * with a prefix for collision-free reuse — expects a `pos` CTE in
    * scope. The rebuild op trains TWO quantizers (frozen base + union
    * retrain) from this one definition, so they cannot drift. */
  private def centroidsLongSqlOver(src: String, pfx: String): String =
    s"""${pfx}cl AS (
       |  SELECT label, i, list_reduce(list(v[i] ORDER BY vec_id), (a, b) -> a + b) / count(*) AS c
       |  FROM $src, pos GROUP BY label, i
       |)""".stripMargin

  private lazy val centroidsLongSql: String = centroidsLongSqlFrom("")

  val qEmbLabelCentroidsSql: String =
    s"""WITH $centroidsLongSql
       |SELECT label, CAST(i AS INTEGER) AS i, c FROM cl ORDER BY label, i""".stripMargin

  /** [[probeCells]]' centroid table in DuckDB SQL: the CTE
    * `name AS (c_label, cv)`, each centroid's coordinates listed in
    * dimension order from the long `(label, i, c)` CTE `cl`, its labels
    * filtered by `where`.
    */
  private def centListSql(name: String, cl: String, where: String = ""): String =
    s"$name AS (SELECT label AS c_label, list(c ORDER BY i) AS cv FROM $cl$where GROUP BY label)"

  /** Squared distance of `v` to centroid `cv`, in [[probeCells]]'
    * association ([[sqDistSql]]).
    */
  private def centDistSql: String =
    sqDistSql("list_dot_product(v, v)", "v", "cv", "list_dot_product(cv, cv)")

  /** [[probeCells]]' nearest-centroid rule in DuckDB SQL: every row of the
    * `(vec_id, …, v)` CTE `src` against every centroid of `cent`, with all
    * of `src`'s columns, the centroid label as `cell`, the squared distance
    * `d` and `rn`, the centroid's rank for the vector by (d, c_label):
    * `rn = 1` is the assignment, `rn <= p` the p-probe list.
    */
  private def assignSql(src: String, cent: String): String =
    s"""SELECT $src.*, c_label AS cell, $centDistSql AS d,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY $centDistSql, c_label) AS rn
       |FROM $src, $cent""".stripMargin

  /** The constant-k quantizer packed into ONE row: `cents` is the array of
    * `(c_label, cv, cc)` structs sorted by label, with c·c precomputed per
    * centroid (the same sequential [[dot]], so the assignment distance
    * `v·v − 2v·c + c·c` stays bit-identical to computing `dot(cv, cv)`
    * inline — the oracle's formulation). A cross join against this
    * single-row broadcast is how the quantizer reaches every executor
    * WITHOUT fanning the corpus out to N×k rows: the stream side passes
    * through a BroadcastNestedLoopJoin untouched. `kLimit` restricts the
    * quantizer to labels < k ([[qEmbKmeansIter]]'s init).
    */
  private[ext] def centroidArrayDf(spark: SparkSession, sfDir: String,
      kLimit: Option[Int]): DataFrame =
    centroidArrayOf(Tables.embeddings(spark, sfDir), kLimit)

  /** [[centroidArrayDf]] over a caller-supplied embeddings frame — the
    * seam that lets [[qEmbIvfIncremental]] train the quantizer on the
    * BASE corpus only (frozen-index maintenance). */
  private[ext] def centroidArrayOf(embIn: DataFrame,
      kLimit: Option[Int]): DataFrame =
    centroidArrayFromLong(centroidsLongOf(embIn), kLimit)

  /** [[centroidArrayOf]] over a (vec_id, label, e: array<double>) frame —
    * the double-array twin of the float-embedding seam. */
  private[graft] def centroidArrayOfE(embIn: DataFrame,
      kLimit: Option[Int]): DataFrame =
    centroidArrayFromLong(centroidsLongOfE(embIn), kLimit)

  private def centroidArrayFromLong(long: DataFrame,
      kLimit: Option[Int]): DataFrame = {
    val limited = kLimit.map(k => long.filter(col("label") < k)).getOrElse(long)
    limited
      .groupBy(col("label").as("c_label"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("c")))),
        p => p.getField("c")).as("cv"))
      .withColumn("cc", dot(col("cv"), col("cv")))
      .agg(array_sort(collect_list(struct(col("c_label"), col("cv"), col("cc"))))
        .as("cents"))
  }

  /** Shuffle-free centroid assignment: for each row of `side` (schema must
    * include `vec_id` and `e: array<double>`), emit the `nprobe` nearest
    * cells as (vec_id, e, cell, dist, norm) — the per-vector argmin
    * (nprobe=1) or the probe list (nprobe>1) of an IVF index.
    *
    * `centArr` must be a single-row frame from [[centroidArrayDf]]. The
    * whole computation is NARROW: a broadcast nested-loop join with a
    * 1-row build side (no exchange, no fan-out of the stream side), then a
    * per-row `transform`/`array_sort`/`slice` over the constant-k array.
    * Nothing about the corpus ever shuffles: a window argmin would
    * exchange and sort all N×k crossed rows on vec_id instead.
    *
    * Determinism: distances sort ascending with the cell label as
    * tiebreak — exactly the oracle's `ORDER BY dist, c_label` / rn=1 when
    * nprobe=1, and the distance is [[sqDist]] on both sides, so both
    * engines pick identical cells.
    */
  private[ext] def probeCells(side: DataFrame, centArr: DataFrame,
      nprobe: Int): DataFrame = {
    // columns of `side` beyond (vec_id, e) ride the fold untouched — a
    // caller needing e.g. `label` downstream must NOT re-attach it with a
    // corpus-sized vec_id join after the fact (the narrow-assignment
    // discipline this helper exists for)
    val extras = side.columns.filterNot(Set("vec_id", "e")).toSeq.map(col)
    side
      .withColumn("ee", dot(col("e"), col("e")))
      .crossJoin(broadcast(centArr))
      .select(Seq(col("vec_id"), col("e"), sqrt(col("ee")).as("norm"),
        explode(slice(array_sort(transform(col("cents"), c =>
          struct(
            sqDist(col("ee"), col("e"), c.getField("cv"), c.getField("cc")).as("d"),
            c.getField("c_label").as("cell")))), 1, nprobe)).as("probe")) ++
        extras: _*)
      .select(Seq(col("vec_id"), col("e"), col("probe.cell").as("cell"),
        col("probe.d").as("dist"), col("norm")) ++ extras: _*)
  }

  /** True IVF ANN (upgrading [[qEmbAnnLsh]]'s "IVF-style" claim to the
    * actual structure): every vector is assigned to its nearest centroid
    * cell (argmin of ||v−c||² = v·v − 2v·c + c·c against the broadcast
    * constant-k centroid array, deterministic label tiebreak), and each
    * query probes only its `nprobe` nearest cells via an EQUI-join on the
    * cell id — the candidate side is never scanned whole.
    *
    * Scale: assignment is [[probeCells]] — genuinely narrow (a 1-row
    * broadcast and a per-row fold; zero exchange of the corpus, asserted
    * by NewOpsSpec's plan test); the probe is one equi-join shuffle
    * bounded by cell size × nprobe. At 100 TB the cell assignment is
    * computed at WRITE time and stored as a partition/bucket column
    * ([[graft.etl.Bucketing]] + BucketingSpec demonstrate that path);
    * this query computes it inline because the harness reads raw
    * testdata.
    */
  def qEmbAnnIvf(spark: SparkSession, sfDir: String): DataFrame =
    qEmbAnnIvfNprobe(spark, sfDir, nprobe = 1)

  /** [[qEmbAnnIvf]] with the standard IVF recall knob: probe the `nprobe`
    * nearest cells per query (rank centroids per query inside the same
    * narrow fold, explode the top-n). nprobe=1 is the oracle-checked
    * default; recall rises monotonically with nprobe (candidate sets are
    * supersets — NewOpsSpec pins the floors).
    */
  def qEmbAnnIvfNprobe(spark: SparkSession, sfDir: String, nprobe: Int): DataFrame = {
    // both assignment sides read the one-row quantizer (a full posexplode
    // pass); multi-point callers share their own via [[annIvfNprobeWith]]
    val centArr = Exec.share(centroidArrayDf(spark, sfDir, None))
    annIvfNprobeWith(spark, sfDir, nprobe, centArr)
  }

  /** [[qEmbAnnIvfNprobe]] against a caller-owned (already-persisted)
    * quantizer frame — the persist-ownership seam for multi-point
    * consumers. */
  private[ext] def annIvfNprobeWith(spark: SparkSession, sfDir: String,
      nprobe: Int, centArr: DataFrame): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val emb = embE(spark, sfDir)
    val q = probeCells(emb.filter(col("vec_id") < nQueryVecs), centArr, nprobe)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("cell"),
        col("norm").as("q_norm"))
    val c = probeCells(emb.filter(col("vec_id") >= nQueryVecs), centArr, 1)
    // each query touches nprobe cells; candidates live in exactly one — EQUI-join
    val scored = c.join(broadcast(q), Seq("cell"))
      .select(col("q_id"), col("vec_id"), col("cell"),
        cosine(col("qe"), col("q_norm"), col("e"), col("norm")).as("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cell"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  val qEmbAnnIvfSql: String =
    s"""WITH $centroidsLongSql,
       |${centListSql("cent", "cl")},
       |assigned AS (
       |  SELECT *, ${normSql("v")} AS norm FROM (${assignSql("e", "cent")})
       |),
       |q AS (
       |  SELECT vec_id AS q_id, v AS qe, cell, norm AS q_norm FROM assigned
       |  WHERE rn = 1 AND vec_id < $nQueryVecs
       |),
       |c AS (
       |  SELECT vec_id, v, cell, norm FROM assigned
       |  WHERE rn = 1 AND vec_id >= $nQueryVecs
       |),
       |scored AS (
       |  SELECT q_id, vec_id, c.cell AS cell,
       |    ${cosineSql("qe", "q_norm", "v", "norm")} AS cosine
       |  FROM c JOIN q ON c.cell = q.cell
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, cell, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored
       |)
       |SELECT q_id, rank, vec_id, cell, cosine FROM ranked
       |WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // Incremental IVF maintenance: frozen quantizer, O(batch) append
  // ------------------------------------------------------------------

  /** Every `ivfIncrMod`-th vec_id arrives as the "new" batch the frozen
    * index must absorb. */
  final val ivfIncrMod = 10

  /** INCREMENTAL IVF INDEX MAINTENANCE — the embedding-side twin of the
    * E89 O(batch) incremental exact dedup: append newly-arrived vectors
    * to an existing IVF index WITHOUT rebuilding it. The coarse
    * quantizer is trained on the BASE corpus only (vec_id %
    * [[ivfIncrMod]] ≠ 0) and FROZEN; the new batch is assigned against
    * those fixed centroids, and the per-cell stats merge additively.
    * Output per cell: base/new/total occupancy, the new-arrival share,
    * and the mean assignment distance of base vs new members — the
    * drift audit that says when the frozen quantizer has gone stale for
    * incoming data (new vectors landing systematically farther from
    * their centroids than the vectors the cells were trained on) and a
    * rebuild is actually warranted.
    *
    * Mechanics: the quantizer is [[centroidArrayOf]] over the base
    * rows — a single-row broadcast exactly as in [[qEmbAnnIvf]];
    * assignment is ONE [[probeCells]] narrow fold over all vectors
    * (zero corpus exchange), and base/new stats split inside one
    * grouped aggregate via conditional sums. Mean distances accumulate
    * as floor-quantized micro-distance BIGINTs (exact, order-free —
    * the [[graft.ext.TextOps.qDocPerplexity]] micro-nat rule) with ONE
    * fixed-shape closing division per column; a raw double `sum(d)`
    * would be partition-order-dependent.
    *
    * Scale (100 TB): in production the base assignments and cell stats
    * are STORED WITH THE INDEX (the [[qEmbAnnIvf]] write-time
    * bucketing note), so the incremental pass touches ONLY the new
    * batch: one broadcast fold over the arrivals plus a |cells|-sized
    * stat merge — no corpus scan, no retraining, no shuffle of
    * anything row-scale. This query recomputes the base side inline
    * only because the harness reads raw testdata; the plan keeps the
    * two sides separable (conditional sums over one assignment pass)
    * to mirror that split.
    */
  def qEmbIvfIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val all = embE(spark, sfDir)
    // frozen quantizer over base rows: one fold reads it, but it costs a full pass
    val centArr = Exec.share(centroidArrayOf(
      Tables.embeddings(spark, sfDir).filter(col("vec_id") % ivfIncrMod =!= 0),
      None))
    val isNew = col("vec_id") % ivfIncrMod === 0
    val assigned = probeCells(all, centArr, 1)
      .select(col("vec_id"), col("cell"),
        expr("CAST(floor(dist * 1000000.0) AS BIGINT)").as("dq"))
    assigned.groupBy(col("cell"))
      .agg(
        sum(when(isNew, 0L).otherwise(1L)).as("n_base"),
        sum(when(isNew, 1L).otherwise(0L)).as("n_new"),
        sum(when(isNew, 0L).otherwise(col("dq"))).as("sd_base"),
        sum(when(isNew, col("dq")).otherwise(0L)).as("sd_new"))
      .select(col("cell"), col("n_base"), col("n_new"),
        (col("n_base") + col("n_new")).as("n_total"),
        (col("n_new").cast("double") / (col("n_base") + col("n_new")).cast("double"))
          .as("share_new"),
        when(col("n_base") === 0, lit(null).cast("double"))
          .otherwise(col("sd_base").cast("double") / col("n_base") / 1000000.0)
          .as("mean_d_base"),
        when(col("n_new") === 0, lit(null).cast("double"))
          .otherwise(col("sd_new").cast("double") / col("n_new") / 1000000.0)
          .as("mean_d_new"))
      .orderBy(col("cell"))
  }

  val qEmbIvfIncrementalSql: String =
    s"""WITH ${centroidsLongSqlFrom(s" WHERE vec_id % $ivfIncrMod != 0", "eb")},
       |${centListSql("cent", "cl")},
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |assigned AS (${assignSql("e", "cent")}),
       |a1 AS (
       |  SELECT vec_id, cell, CAST(floor(d * 1000000.0) AS BIGINT) AS dq
       |  FROM assigned WHERE rn = 1
       |),
       |stats AS (
       |  SELECT cell,
       |    CAST(sum(CASE WHEN vec_id % $ivfIncrMod = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
       |    CAST(sum(CASE WHEN vec_id % $ivfIncrMod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |    CAST(sum(CASE WHEN vec_id % $ivfIncrMod = 0 THEN 0 ELSE dq END) AS BIGINT) AS sd_base,
       |    CAST(sum(CASE WHEN vec_id % $ivfIncrMod = 0 THEN dq ELSE 0 END) AS BIGINT) AS sd_new
       |  FROM a1 GROUP BY cell
       |)
       |SELECT cell, n_base, n_new, n_base + n_new AS n_total,
       |  CAST(n_new AS DOUBLE) / CAST(n_base + n_new AS DOUBLE) AS share_new,
       |  CASE WHEN n_base = 0 THEN NULL
       |       ELSE CAST(sd_base AS DOUBLE) / n_base / 1000000.0 END AS mean_d_base,
       |  CASE WHEN n_new = 0 THEN NULL
       |       ELSE CAST(sd_new AS DOUBLE) / n_new / 1000000.0 END AS mean_d_new
       |FROM stats ORDER BY cell""".stripMargin

  // ------------------------------------------------------------------
  // Rebuild-on-drift: close the incremental-maintenance loop
  // ------------------------------------------------------------------

  /** Per-dimension shift injected into the arriving batch of
    * [[qEmbIvfRebuild]] — a genuinely drifted incoming distribution
    * (‖shift‖² = 64·0.25 = 16 added to every squared assignment
    * distance), so the rebuild trigger fires BY CONSTRUCTION in the
    * registry fixture. Applied in DOUBLE on both engines (a float-space
    * shift would round differently before the cast).
    */
  final val ivfDriftShift = 0.5

  /** Per-cell (n, Σ micro-dist) stats of `embE` (vec_id, e) assigned
    * under `centArr` — the unit the incremental-IVF family stores with
    * the index and merges additively.
    */
  private[graft] def ivfCellStats(embE: DataFrame, centArr: DataFrame): DataFrame =
    probeCells(embE.select(col("vec_id"), col("e")), centArr, 1)
      .select(col("cell"), expr("CAST(floor(dist * 1000000.0) AS BIGINT)").as("dq"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("dq")).as("sd"))

  /** The production O(batch) NO-REBUILD append: merge STORED per-cell
    * base stats with the arriving batch's stats under the frozen
    * quantizer. The corpus appears only as its |cells|-sized stat table
    * — the batch is the only row-scale input, its assignment is the
    * narrow [[probeCells]] fold, and nothing is ever exchanged on
    * vec_id (plan-asserted in PlanAssertionsSpec).
    */
  private[graft] def ivfAppendOnly(baseStats: DataFrame, centArr: DataFrame,
      batchE: DataFrame): DataFrame =
    ivfMergeStats(baseStats, ivfCellStats(batchE, centArr))

  /** The pure algebraic half of the append: merge two per-cell (n, sd)
    * stat tables additively — |cells|-sized work only. */
  private[graft] def ivfMergeStats(baseStats: DataFrame,
      newStats: DataFrame): DataFrame = {
    val n = newStats.select(col("cell"), col("n").as("n_new"), col("sd").as("sd_new"))
    baseStats.select(col("cell"), col("n").as("n_base"), col("sd").as("sd_base"))
      .join(n, Seq("cell"), "full")
      .na.fill(0L, Seq("n_base", "sd_base", "n_new", "sd_new"))
      .select(col("cell"), col("n_base"), col("n_new"),
        (col("n_base") + col("n_new")).as("n_merged"),
        (col("sd_base") + col("sd_new")).as("sd_merged"))
  }

  /** REBUILD-ON-DRIFT — closing the [[qEmbIvfIncremental]] loop: that op
    * emits the drift audit; this one ACTS on it. The frozen base
    * quantizer assigns base and batch; if the batch's global mean
    * assignment distance exceeds 3/2 of the base's (the trigger,
    * evaluated as the exact integer cross-product 2·Σd_new·n_base >
    * 3·Σd_base·n_new — no double ratio), the quantizer is RETRAINED on
    * the union (the E32 centroid training over base ∪ batch) and the
    * index is rebuilt under it; otherwise the frozen quantizer stands
    * and the append is the O(batch) merge. Either way the output
    * carries the E122 merge-law proof: per cell, the MERGED stats
    * (base pass + batch pass added algebraically) against the
    * FULL-recompute stats (one union pass under the same selected
    * quantizer), with `merged_equals_full` — so "incrementally
    * maintained index ≡ index rebuilt from scratch on the union" is a
    * checked output column, not a claim.
    *
    * The trigger branch is a driver-side scalar (the sanctioned
    * model-state pattern); the oracle computes the SAME trigger from
    * the same audit CTEs into the `rebuilt` column but pins the
    * rebuild branch's index construction — the fixture trips the
    * trigger by construction ([[ivfDriftShift]]), and a Spark-side
    * trigger disagreement would hash-FAIL loudly. The untripped branch
    * is certified by NewOpsSpec (undrifted batch → `rebuilt = false`,
    * merge law still universally true) and its plan by
    * PlanAssertionsSpec via [[ivfAppendOnly]].
    *
    * Scale (100 TB): the no-rebuild path is O(batch) ([[ivfAppendOnly]]);
    * the rebuild path is inherently corpus-scale (that is what a rebuild
    * IS) but stays two narrow folds + one vocabulary-bounded centroid
    * agg — and the trigger is what keeps rebuilds RARE. The proof pass
    * doubles the selected path's assignment work; production runs it as
    * a sampled audit, here it is exact because the oracle checks it.
    */
  def qEmbIvfRebuild(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.embeddings(spark, sfDir)
    val baseE = raw.filter(col("vec_id") % ivfIncrMod =!= 0)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("e"))
    val batchE = raw.filter(col("vec_id") % ivfIncrMod === 0)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double") + ivfDriftShift).as("e"))
    ivfRebuildFrom(spark, baseE, batchE)
  }

  /** Core of [[qEmbIvfRebuild]] over caller-supplied (vec_id, label, e)
    * base/batch frames — package-visible so NewOpsSpec can drive the
    * UNDRIFTED branch. Registry callers rely on the clearCache-between-
    * entries contract to release the persisted intermediates; a
    * long-lived caller must use [[ivfRebuildFromWith]] and unpersist the
    * returned handles after consuming the output (the
    * `fuzzyContamPairsWith` discipline — foreachBatch-style loops have
    * no clearCache, so each invocation would otherwise leak up to six
    * corpus-scale cached frames for the life of the caller).
    */
  private[graft] def ivfRebuildFrom(spark: SparkSession, baseE: DataFrame,
      batchE: DataFrame): DataFrame =
    ivfRebuildFromWith(spark, baseE, batchE)._1

  /** [[ivfRebuildFrom]] plus every persisted intermediate handle (base,
    * batch, quantizer(s), per-side stats), so long-lived callers can
    * release the cache once the output is consumed. */
  private[graft] def ivfRebuildFromWith(spark: SparkSession, baseE0: DataFrame,
      batchE0: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val baseE = baseE0; val batchE = batchE0
    val bPersist = baseE.persist(); val nPersist = batchE.persist()
    // eager: audit + (possibly) both proof passes consume it
    val qBase = Exec.share(centroidArrayOfE(bPersist, None))
    // persisted |cells|-sized: the trigger collects fill them, and the
    // no-rebuild merged side reuses them instead of re-assigning (the
    // r12 self-review catch — one corpus pass per side, not two)
    val bStats = ivfCellStats(bPersist, qBase).persist()
    val nStats = ivfCellStats(nPersist, qBase).persist()
    // drift trigger from the global audit sums (driver-side scalar)
    val g = bStats.agg(sum(col("n")).as("nb"), sum(col("sd")).as("sb")).collect()(0)
    val h = nStats.agg(sum(col("n")).as("nn"), sum(col("sd")).as("sn")).collect()(0)
    val (nb, sb) = (g.getAs[Long]("nb"), g.getAs[Long]("sb"))
    val (nn, sn) = (h.getAs[Long]("nn"), h.getAs[Long]("sn"))
    // BigInt: sd ≈ n·10⁷ micro-dist units, so the int64 cross-product
    // wraps around ~3M base vectors — far below the op's target scale
    // (the r12 self-review catch); the oracle widens to HUGEINT
    val rebuilt = nb > 0 && nn > 0 &&
      BigInt(2) * sn * nb > BigInt(3) * sb * nn
    var handles = Seq(bPersist, nPersist, qBase, bStats, nStats)
    val q =
      if (!rebuilt) qBase
      else {
        val qU = Exec.share(centroidArrayOfE(bPersist.unionAll(nPersist), None))
        handles :+= qU
        qU
      }
    // merge-law proof under the SELECTED quantizer: per-side passes added
    // algebraically vs one full union pass; the no-rebuild branch reuses
    // the trigger's persisted stats, so the proof is its ONLY extra pass.
    // (The registry fixture trips the trigger, so ITS runtime is dominated
    // by the rebuild branch — the reuse pays on the no-rebuild path a
    // production deployment runs almost always.)
    val merged =
      if (!rebuilt) ivfMergeStats(bStats, nStats)
      else ivfMergeStats(ivfCellStats(bPersist, q), ivfCellStats(nPersist, q))
    val full = ivfCellStats(bPersist.unionAll(nPersist), q)
      .select(col("cell"), col("n").as("n_full"), col("sd").as("sd_full"))
    val out = merged.join(full, Seq("cell"), "full")
      .na.fill(0L, Seq("n_base", "n_new", "n_merged", "sd_merged", "n_full", "sd_full"))
      .select(col("cell"), col("n_base"), col("n_new"), col("n_merged"), col("n_full"),
        (col("n_merged") === col("n_full") && col("sd_merged") === col("sd_full"))
          .as("merged_equals_full"),
        when(col("n_full") === 0, lit(null).cast("double"))
          .otherwise(col("sd_full").cast("double") / col("n_full") / 1000000.0)
          .as("mean_d_full"),
        lit(rebuilt).as("rebuilt"))
      .orderBy(col("cell"))
    (out, handles)
  }

  val qEmbIvfRebuildSql: String = {
    // assignment of a (vec_id, v) source under a (c_label, cv) quantizer
    def assign(src: String, cent: String, pfx: String): String =
      s"""${pfx}a AS (${assignSql(src, cent)}),
         |${pfx}s AS (
         |  SELECT cell, count(*) AS n,
         |    CAST(sum(CAST(floor(d * 1000000.0) AS BIGINT)) AS BIGINT) AS sd
         |  FROM ${pfx}a WHERE rn = 1 GROUP BY cell
         |)""".stripMargin
    s"""WITH eb AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id % $ivfIncrMod != 0
       |),
       |en AS (
       |  SELECT vec_id, label,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> x + $ivfDriftShift) AS v
       |  FROM embeddings WHERE vec_id % $ivfIncrMod = 0
       |),
       |eu AS (SELECT * FROM eb UNION ALL SELECT * FROM en),
       |pos AS (SELECT unnest(generate_series(1, $embDim)) AS i),
       |${centroidsLongSqlOver("eb", "b")},
       |${centListSql("bcent", "bcl")},
       |${assign("eb", "bcent", "qb")},
       |${assign("en", "bcent", "qn")},
       |trig AS (
       |  -- COALESCE each scalar to 0: with an empty base or batch side the
       |  -- sums are NULL and the compare would yield NULL, while the Spark
       |  -- side guards nb > 0 && nn > 0 and returns false — 0s make the
       |  -- strict > agree (0 > 0 is false) on degenerate input
       |  SELECT 2 * COALESCE((SELECT CAST(sum(sd) AS HUGEINT) FROM qns), 0) *
       |           COALESCE((SELECT CAST(sum(n) AS HUGEINT) FROM qbs), 0) >
       |         3 * COALESCE((SELECT CAST(sum(sd) AS HUGEINT) FROM qbs), 0) *
       |           COALESCE((SELECT CAST(sum(n) AS HUGEINT) FROM qns), 0) AS rebuilt
       |),
       |${centroidsLongSqlOver("eu", "u")},
       |${centListSql("ucent", "ucl")},
       |${assign("eb", "ucent", "mb")},
       |${assign("en", "ucent", "mn")},
       |${assign("eu", "ucent", "mf")}
       |SELECT COALESCE(b.cell, n.cell, f.cell) AS cell,
       |  COALESCE(b.n, 0) AS n_base, COALESCE(n.n, 0) AS n_new,
       |  COALESCE(b.n, 0) + COALESCE(n.n, 0) AS n_merged,
       |  COALESCE(f.n, 0) AS n_full,
       |  COALESCE(b.n, 0) + COALESCE(n.n, 0) = COALESCE(f.n, 0) AND
       |    COALESCE(b.sd, 0) + COALESCE(n.sd, 0) = COALESCE(f.sd, 0)
       |    AS merged_equals_full,
       |  CASE WHEN COALESCE(f.n, 0) = 0 THEN NULL
       |       ELSE CAST(f.sd AS DOUBLE) / f.n / 1000000.0 END AS mean_d_full,
       |  (SELECT rebuilt FROM trig) AS rebuilt
       |FROM mbs b
       |FULL OUTER JOIN mns n ON b.cell = n.cell
       |FULL OUTER JOIN mfs f ON COALESCE(b.cell, n.cell) = f.cell
       |ORDER BY cell""".stripMargin
  }

  // ------------------------------------------------------------------
  // Semantic decontamination: embedding-space benchmark screening
  // ------------------------------------------------------------------

  /** Cosine threshold for "semantically the same content": the planted
    * re-embeddings land at ≈ 0.987 (unit vectors ± 0.02/dim jitter)
    * while the corpus's own most-similar same-label pairs top out at
    * ≈ 0.45 — a 2× margin on both sides of the cut. Every `semanticEvalMod`-th
    * vector is the benchmark side (the SAME ids as the token gates'
    * eval split, so the three gates screen one benchmark).
    */
  final val semanticTau = 0.95
  final val semanticEvalMod = 50L

  /** IVF-ROUTED SEMANTIC DECONTAMINATION — the SCALE path of
    * [[qEmbDecontam]] (E208), delivering the composition that op's own
    * scaladoc defers to ("at extreme eval-set sizes, route the probe
    * through the qEmbAnnIvf cell index"): E208 scores the full Q×N
    * cosine stream against a broadcast eval set, which is the right
    * EXACT arm while the benchmark is thousands of rows; when the eval
    * side grows (multi-benchmark suites, dedup-against-eval at vendor
    * scale) the screen must become index-routed — candidates bounded by
    * the IVF cell structure instead of every (train, eval) pair (the
    * E75 → E308 brute-force-to-cell-bounded discipline). The cost is
    * the family's standard clipping caveat: a cross-cell semantic twin
    * outside the probe set is invisible by design; nprobe is the recall
    * knob.
    *
    * Fixture: the training side replants each eval vector RE-EMBEDDED
    * (±0.02/dim deterministic jitter in DOUBLE — the stand-in for a
    * rewritten/translated paraphrase whose meaning, hence embedding,
    * survives; cos ≈ 0.987 vs [[semanticTau]] = 0.95, while the
    * corpus's own most-similar pairs top out at ≈ 0.45) in the negative
    * id space — content with zero shared text surface, which the E51
    * exact and E310 fuzzy token gates provably cannot see.
    *
    * Mechanics: the corpus-side quantizer ([[centroidArrayOfE]], the
    * production index) assigns the train side once (nprobe = 1 — its
    * index cell); the benchmark probes its 2 nearest cells; candidates
    * come from the cell EQUI-join with the benchmark side broadcast,
    * verified by the exact sequential-[[dot]] cosine — the
    * [[qEmbAnnIvf]] discipline end to end.
    *
    * Scale (100 TB): the corpus pays its (already-stored-in-production)
    * cell assignment via the narrow 1-row-broadcast fold and ONE
    * cell-keyed equi-join bounded by Σ|cell|·|eval∩cell| — never Q×N;
    * output is O(contaminated docs). The same write-time bucketing note
    * as [[qEmbAnnIvf]] applies.
    */
  def qEmbDecontamIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.embeddings(spark, sfDir)
    val evalE = raw.filter(col("vec_id") % semanticEvalMod === 0)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("e"))
    val planted = evalE.select((-col("vec_id") - 1).as("vec_id"), col("label"),
      expr(reembedExpr).as("e"))
    val train = raw.filter(col("vec_id") % semanticEvalMod =!= 0)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("e"))
      .unionAll(planted)
    semanticContamPairs(train, evalE)
      .orderBy(col("vec_id"), col("eval_vec_id"))
  }

  /** The re-embedded-paraphrase plant of the semantic gates: ±0.02/dim
    * deterministic jitter in DOUBLE over an `e` column (cos ≈ 0.987 vs
    * [[semanticTau]] on unit-ish vectors). One definition, two fixtures
    * ([[qEmbDecontamIvf]] and the E318 unified verdict). */
  private[graft] val reembedExpr: String =
    "transform(e, (x, i) -> x + CASE WHEN i % 2 = 0 " +
      "THEN CAST(0.02 AS DOUBLE) ELSE CAST(-0.02 AS DOUBLE) END)"
  private[ext] def reembedSql(v: String): String =
    s"list_transform(generate_series(1, len($v)), i -> " +
      s"$v[i] + CASE WHEN (i - 1) % 2 = 0 THEN CAST(0.02 AS DOUBLE) " +
      s"ELSE CAST(-0.02 AS DOUBLE) END)"

  /** Core of [[qEmbDecontamIvf]] over caller-supplied (vec_id, label, e)
    * train/eval frames — also the semantic arm of the E318 unified
    * decontamination verdict, so the standalone gate and the composed
    * verdict cannot drift. Unordered; persisted quantizer released by
    * the registry clearCache contract. */
  private[graft] def semanticContamPairs(train: DataFrame,
      evalE: DataFrame): DataFrame = {
    // the corpus index's quantizer, trained on the train side; both assignment folds read it
    val qArr = Exec.share(centroidArrayOfE(train, None))
    semanticScreenWith(train.select(col("vec_id"), col("e")),
      semanticEvalAssign(evalE, qArr), qArr)
  }

  /** The benchmark side of the semantic gate, pre-assigned at nprobe=2
    * against quantizer `qArr`: (eval_vec_id, qe, cell, q_norm), one row
    * per probed cell. Benchmark-sized — computed ONCE (per stream, for
    * the E328 screen) and broadcast into every verify join. */
  private[graft] def semanticEvalAssign(evalE: DataFrame,
      qArr: DataFrame): DataFrame =
    probeCells(evalE.select(col("vec_id"), col("e")), qArr, 2)
      .select(col("vec_id").as("eval_vec_id"), col("e").as("qe"), col("cell"),
        col("norm").as("q_norm"))

  /** Shared verify core of the semantic gates — [[semanticContamPairs]]
    * (quantizer trained on the union train side) and the E328 streaming
    * screen (quantizer FROZEN on the base corpus) differ only in where
    * `qArr` comes from, so batch gate and door screen cannot drift:
    * assign `side` (vec_id, e) to its nprobe=1 index cell via the narrow
    * [[probeCells]] fold, equi-join the broadcast pre-assigned eval side
    * `evalA` ([[semanticEvalAssign]]) on the cell key, verify by exact
    * sequential-[[dot]] cosine at [[semanticTau]]. Per-batch cost is
    * Σ|cell∩side|·|eval∩cell| — cell-bounded, never |side|×|eval|. */
  private[graft] def semanticScreenWith(side: DataFrame, evalA: DataFrame,
      qArr: DataFrame): DataFrame =
    probeCells(side.select(col("vec_id"), col("e")), qArr, 1)
      .select(col("vec_id"), col("e"), col("cell"), col("norm"))
      .join(broadcast(evalA), Seq("cell"))
      .select(col("vec_id"), col("eval_vec_id"), col("cell"),
        cosine(col("qe"), col("q_norm"), col("e"), col("norm")).as("cosine"))
      .filter(col("cosine") >= semanticTau)

  /** Oracle-side mirror of [[semanticContamPairs]]: the CTE chain from a
    * (vec_id, label, v) train CTE `$trSrc` and eval CTE `$evSrc` to
    * `${pfx}pairs AS (vec_id, eval_vec_id, cell, cosine)`. Expects a
    * `pos` CTE (`1..embDim`) in scope, per [[centroidsLongSqlOver]]. */
  private[ext] def semanticContamSqlCtes(trSrc: String, evSrc: String,
      pfx: String): String =
    s"""${centroidsLongSqlOver(trSrc, pfx)},
       |${centListSql(s"${pfx}cent", s"${pfx}cl")},
       |${pfx}ta AS (
       |  SELECT vec_id, v, ${normSql("v")} AS norm, cell, rn
       |  FROM (${assignSql(trSrc, s"${pfx}cent")})
       |),
       |${pfx}ea AS (
       |  SELECT vec_id AS eval_vec_id, v AS qe,
       |    ${normSql("v")} AS q_norm, cell, rn
       |  FROM (${assignSql(evSrc, s"${pfx}cent")})
       |),
       |${pfx}pairs AS (
       |  SELECT t.vec_id, e.eval_vec_id, t.cell,
       |    ${cosineSql("e.qe", "e.q_norm", "t.v", "t.norm")} AS cosine
       |  FROM (SELECT * FROM ${pfx}ta WHERE rn = 1) t
       |  JOIN (SELECT * FROM ${pfx}ea WHERE rn <= 2) e ON t.cell = e.cell
       |  WHERE ${cosineSql("e.qe", "e.q_norm", "t.v", "t.norm")} >= $semanticTau
       |)""".stripMargin

  val qEmbDecontamIvfSql: String =
    s"""WITH ev AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id % $semanticEvalMod = 0
       |),
       |tr AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id % $semanticEvalMod != 0
       |  UNION ALL
       |  SELECT -vec_id - 1 AS vec_id, label, ${reembedSql("v")} AS v
       |  FROM ev
       |),
       |pos AS (SELECT unnest(generate_series(1, $embDim)) AS i),
       |${semanticContamSqlCtes("tr", "ev", "s")}
       |SELECT vec_id, eval_vec_id, cell, cosine
       |FROM spairs
       |ORDER BY vec_id, eval_vec_id""".stripMargin

  // ------------------------------------------------------------------
  // Triplet mining: per-anchor hardest in-cell positive and negative
  // ------------------------------------------------------------------

  /** Every `tripletAnchorMod`-th vec_id is a mining anchor. */
  final val tripletAnchorMod = 20L

  /** TRIPLET MINING — the scale path of [[qEmbHardNegatives]] (E75),
    * which brute-force-scores a broadcast query batch against the whole
    * corpus and keeps only negatives: here EVERY sampled anchor gets
    * both triplet terms — the hardest in-cell POSITIVE (lowest cosine
    * among same-label neighbors — the pair the model most needs to pull
    * together) and the hardest in-cell NEGATIVE (highest cosine among
    * different-label neighbors — the pair it most needs to push apart)
    * — plus the triplet margin and its violation flag (hard-negative
    * more similar than hard-positive = the triplet a hard-mining loader
    * would emit). Candidates come from the anchor's own IVF cell —
    * exactly how production miners bound the search (FAISS-style cell
    * probe), and the same boundary-clipping caveat as [[qEmbTwonnCell]]
    * applies: a cross-cell harder negative is invisible by design.
    *
    * Mechanics: nprobe=1 assignment via the narrow [[probeCells]] fold;
    * pairing is a CELL EQUI-JOIN with the probe side shuffle-hash-
    * hinted (the corpus-sized anchor sample must never broadcast — the
    * [[qEmbTwonnCell]] plan discipline); per-anchor reduction is one
    * map-side-combinable aggregate of conditional min/max — no window,
    * no per-anchor sort. Cosines are the sequential-[[dot]] doubles of
    * the ANN family, so min/max picks are bit-identical cross-engine;
    * an anchor with no in-cell positive yields NULL margin and a false
    * flag on both sides.
    *
    * Scale (100 TB): pair volume is Σ_cells |cell|·|anchors∩cell| —
    * cell-bounded, never N²; the anchor sample rate and nprobe are the
    * recall/cost knobs. Stats combine map-side, so the exchange carries
    * |anchors| partials.
    */
  def qEmbTripletMining(spark: SparkSession, sfDir: String): DataFrame = {
    // eager: the quantizer feeds the one assignment pass
    val centArr = Exec.share(centroidArrayDf(spark, sfDir, None))
    val embL = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("e"))
    // label rides probeCells' narrow fold — never a corpus-sized vec_id
    // join to re-attach a column the scan already had in hand
    // eager: both pairing sides consume it
    val assigned = Exec.share(probeCells(embL, centArr, 1)
      .select(col("vec_id"), col("label"), col("e"), col("cell"), col("norm")))
    val anchors = assigned.filter(col("vec_id") % tripletAnchorMod === 0)
      .select(col("cell"), col("vec_id").as("a_id"), col("label").as("a_label"),
        col("e").as("ae"), col("norm").as("a_norm"))
    val scored = assigned.join(anchors.hint("shuffle_hash"), Seq("cell"))
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("cell"), col("label"),
        cosine(col("ae"), col("a_norm"), col("e"), col("norm")).as("cos"))
    scored.groupBy(col("a_id"), col("a_label"), col("cell"))
      .agg(
        sum(when(col("label") === col("a_label"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("label") =!= col("a_label"), 1L).otherwise(0L)).as("n_neg"),
        min(when(col("label") === col("a_label"), col("cos"))).as("hard_pos_cos"),
        max(when(col("label") =!= col("a_label"), col("cos"))).as("hard_neg_cos"))
      .select(col("a_id").as("anchor_id"), col("a_label").as("label"), col("cell"),
        col("n_pos"), col("n_neg"), col("hard_pos_cos"), col("hard_neg_cos"),
        (col("hard_neg_cos") - col("hard_pos_cos")).as("margin"),
        coalesce((col("hard_neg_cos") - col("hard_pos_cos")) > 0.0, lit(false))
          .as("violates"))
      .orderBy(col("anchor_id"))
  }

  val qEmbTripletMiningSql: String =
    s"""WITH $centroidsLongSql,
       |${centListSql("cent", "cl")},
       |assigned AS (
       |  SELECT *, ${normSql("v")} AS norm FROM (${assignSql("e", "cent")})
       |),
       |a AS (SELECT vec_id, label, v, cell, norm FROM assigned WHERE rn = 1),
       |anch AS (
       |  SELECT cell, vec_id AS a_id, label AS a_label, v AS av, norm AS a_norm
       |  FROM a WHERE vec_id % $tripletAnchorMod = 0
       |),
       |scored AS (
       |  SELECT a_id, a_label, a.cell AS cell, a.label AS label,
       |    ${cosineSql("av", "a_norm", "v", "norm")} AS cos
       |  FROM a JOIN anch ON a.cell = anch.cell AND a.vec_id <> anch.a_id
       |)
       |SELECT a_id AS anchor_id, a_label AS label, cell,
       |  CAST(sum(CASE WHEN label = a_label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(sum(CASE WHEN label <> a_label THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
       |  min(CASE WHEN label = a_label THEN cos END) AS hard_pos_cos,
       |  max(CASE WHEN label <> a_label THEN cos END) AS hard_neg_cos,
       |  max(CASE WHEN label <> a_label THEN cos END) -
       |    min(CASE WHEN label = a_label THEN cos END) AS margin,
       |  COALESCE(max(CASE WHEN label <> a_label THEN cos END) -
       |    min(CASE WHEN label = a_label THEN cos END) > 0, FALSE) AS violates
       |FROM scored
       |GROUP BY a_id, a_label, cell
       |ORDER BY anchor_id""".stripMargin

  // ------------------------------------------------------------------
  // ANN recall audit: IVF probe vs the exact brute-force top-k
  // ------------------------------------------------------------------

  /** Recall audit of the IVF ANN path against the exact brute-force
    * top-[[topK]] — the embedding-side twin of
    * [[graft.ext.Dedup.qDocMinhashEval]], and the measurement that decides
    * an IVF index's nprobe setting before it serves a 100 TB corpus. Both
    * arms run over the SAME query/candidate split ([[nQueryVecs]]) with
    * the SAME cosine and (cosine DESC, vec_id) tiebreak, so every missing
    * pair is a CELL miss (the true neighbor was assigned to a cell the
    * query didn't probe), never a scoring disagreement. One summary row:
    * n_queries, n_exact, n_ann (≤ n_exact lists can be SHORTER than k
    * when a probed cell holds < k candidates — itself a recall signal),
    * n_overlap, recall_at_k = overlap / exact.
    *
    * Scale (100 TB): the exact arm is the brute-force scan — at
    * production scale it runs on a query SAMPLE (the estimate needs
    * queries, not the corpus; the candidate side is one full scan per
    * audit either way); the ANN arm is the indexed path being audited.
    * Stats are three 1-row aggregates cross-joined as broadcasts; both
    * pair frames persist eagerly before the stats fan-out.
    */
  def qEmbAnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = Exec.share(qEmbCosineTopk(spark, sfDir)
      .select(col("q_id"), col("vec_id")))
    val ann = Exec.share(qEmbAnnIvf(spark, sfDir)
      .select(col("q_id"), col("vec_id")))
    val exC = exact.agg(countDistinct(col("q_id")).as("n_queries"),
      count(lit(1)).as("n_exact"))
    val annC = ann.agg(count(lit(1)).as("n_ann"))
    val ovC = exact.join(ann, Seq("q_id", "vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
    exC.crossJoin(broadcast(annC)).crossJoin(broadcast(ovC))
      .select(col("n_queries"), col("n_exact"), col("n_ann"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_exact").cast("double"))
          .as("recall_at_k"))
  }

  val qEmbAnnRecallSql: String =
    s"""WITH ex AS (SELECT q_id, vec_id FROM ($qEmbCosineTopkSql)),
       |ann AS (SELECT q_id, vec_id FROM ($qEmbAnnIvfSql)),
       |counts AS (
       |  SELECT (SELECT count(DISTINCT q_id) FROM ex) AS n_queries,
       |         (SELECT count(*) FROM ex) AS n_exact,
       |         (SELECT count(*) FROM ann) AS n_ann,
       |         (SELECT count(*) FROM ex JOIN ann USING (q_id, vec_id)) AS n_overlap
       |)
       |SELECT n_queries, n_exact, n_ann, n_overlap,
       |  CAST(n_overlap AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_at_k
       |FROM counts""".stripMargin

  // ------------------------------------------------------------------
  // IVF nprobe sweep: the recall knob, measured
  // ------------------------------------------------------------------

  /** nprobe settings the sweep measures (1 = the oracle-checked IVF
    * default; rising values probe more cells per query). `final`, but as
    * a Seq it is NOT constant-folded like the literal `final val`s — any
    * SQL builder must consume it via a local method, never from another
    * object's init-time val (the object-init-cycle rule,
    * .claude/skills/verify). */
  final val sweepNprobes: Seq[Int] = Seq(1, 2, 4)

  /** The actionable form of [[qEmbAnnRecall]]: recall@k for each nprobe
    * in [[sweepNprobes]] against the same exact brute-force arm — the
    * table an index operator reads to pick the cost/recall point before
    * deploying IVF over a 100 TB corpus. Candidate sets grow as supersets
    * with nprobe (NewOpsSpec pins monotone recall), so the sweep shows
    * exactly what each extra probed cell buys.
    *
    * Scale: the exact arm computes ONCE (persisted pairs, query-sample
    * sized); each sweep point re-runs only the indexed probe; per-point
    * stats are 1-row broadcast aggregates unioned into the 3-row result.
    */
  def qEmbAnnNprobeSweep(spark: SparkSession, sfDir: String): DataFrame = {
    // the exact arm and the sweep-point probes are independent
    // materialization chains, run concurrently. Per-point stats then tag
    // each candidate set with its nprobe and aggregate the union ONCE; a
    // left join from the literal nprobe list keeps empty-arm counts at 0.
    // ONE quantizer for every sweep point, shared here (the owner) —
    // per-point qEmbAnnIvfNprobe calls would each re-persist the same plan
    val centArr = Exec.share(centroidArrayDf(spark, sfDir, None))
    val pairs = Seq(col("q_id"), col("vec_id"))
    val exact +: annArms = Exec.concurrently(
      (() => Exec.share(qEmbCosineTopk(spark, sfDir).select(pairs: _*))) +:
        sweepNprobes.map(n => () =>
          Exec.share(annIvfNprobeWith(spark, sfDir, n, centArr).select(pairs: _*))): _*)
    val anns = sweepNprobes.zip(annArms)
    val tagged = anns.map { case (n, a) =>
      a.select(lit(n).as("nprobe"), col("q_id"), col("vec_id"))
    }.reduce(_ unionAll _)
    val nAnn = tagged.groupBy(col("nprobe")).agg(count(lit(1)).as("na"))
    val nOv = exact.join(tagged, Seq("q_id", "vec_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("no"))
    val exC = exact.agg(count(lit(1)).as("n_exact"))
    val points = sweepNprobes
      .map(n => s"SELECT $n AS nprobe").mkString(" UNION ALL ")
    spark.sql(points)
      .join(nAnn, Seq("nprobe"), "left")
      .join(nOv, Seq("nprobe"), "left")
      .crossJoin(broadcast(exC))
      .select(col("nprobe"), col("n_exact"),
        coalesce(col("na"), lit(0L)).as("n_ann"),
        coalesce(col("no"), lit(0L)).as("n_overlap"))
      .select(col("nprobe"), col("n_exact"), col("n_ann"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_exact").cast("double"))
          .as("recall_at_k"))
      .orderBy(col("nprobe"))
  }

  /** Oracle: one assignment CTE (rn over distance-ordered cells), a qn/sc/
    * rk chain per sweep point, counts unioned — the same operand trees as
    * [[qEmbAnnIvfSql]] with `rn <= n` in place of `rn = 1` on the query
    * side. */
  val qEmbAnnNprobeSweepSql: String = {
    def point(n: Int): String =
      s"""qn$n AS (
         |  SELECT vec_id AS q_id, v AS qe, cell, norm AS q_norm FROM assigned
         |  WHERE rn <= $n AND vec_id < $nQueryVecs
         |),
         |sc$n AS (
         |  SELECT q_id, c.vec_id,
         |    ${cosineSql("qe", "q_norm", "v", "norm")} AS cosine
         |  FROM cand c JOIN qn$n q ON c.cell = q.cell
         |),
         |rk$n AS (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM sc$n
         |),
         |ann$n AS (SELECT q_id, vec_id FROM rk$n WHERE rank <= $topK),
         |cnt$n AS (
         |  SELECT $n AS nprobe,
         |    (SELECT count(*) FROM ex) AS n_exact,
         |    (SELECT count(*) FROM ann$n) AS n_ann,
         |    (SELECT count(*) FROM ex JOIN ann$n USING (q_id, vec_id)) AS n_overlap
         |)""".stripMargin
    val points = sweepNprobes.map(point).mkString(",\n")
    val unions = sweepNprobes
      .map(n => s"SELECT nprobe, n_exact, n_ann, n_overlap, CAST(n_overlap AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_at_k FROM cnt$n")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ex AS (SELECT q_id, vec_id FROM ($qEmbCosineTopkSql)),
       |$centroidsLongSql,
       |${centListSql("cent", "cl")},
       |assigned AS (
       |  SELECT *, ${normSql("v")} AS norm FROM (${assignSql("e", "cent")})
       |),
       |cand AS (
       |  SELECT vec_id, v, cell, norm FROM assigned
       |  WHERE rn = 1 AND vec_id >= $nQueryVecs
       |),
       |$points
       |SELECT * FROM (
       |  $unions
       |) ORDER BY nprobe""".stripMargin
  }

  // ------------------------------------------------------------------
  // MMR diversified retrieval
  // ------------------------------------------------------------------

  /** MMR trade-off λ (0.5 = equal weight on relevance and diversity) and
    * geometry: re-rank the [[mmrPoolK]]-candidate pool down to [[mmrK]]
    * picks for the single query vec 0. */
  final val mmrLambda = 0.5
  final val mmrPoolK = 10
  final val mmrK = 5

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversified
    * retrieval: greedily pick [[mmrK]] results from the top-[[mmrPoolK]]
    * cosine pool, each round maximizing λ·sim(q,d) − (1−λ)·max_{s∈S}
    * sim(d,s) — the re-ranking step that stops a RAG retriever returning
    * five copies of the same passage. Ties break on vec_id; round 1 has
    * an empty selected set, so msim is literal 0.0 and the pick reduces
    * to plain argmax relevance.
    *
    * Scale (100 TB): the DISTRIBUTED work is the pool cut — one
    * broadcast-query scan and a TakeOrdered top-[[mmrPoolK]]; the greedy
    * loop then runs on the COLLECTED pool, which is constant-size model
    * state (mmrPoolK × dim doubles, identical at every corpus scale) —
    * the [[kmeans]] precedent, NOT a driver-side data loop. A
    * DataFrame-per-round formulation was measured 10× slower (≈ 5 s at
    * sf0.1): eleven scheduler round-trips for a 10-row pool is pure
    * fixed job overhead.
    *
    * Determinism: the pool's sims reuse the sequential [[dot]] fold
    * (bit-equal to `list_dot_product`); the driver greedy repeats the
    * exact operand trees (sequential dot, /, ×, IEEE-exact) in pool
    * order, so every double matches the oracle's unrolled CTEs bit for
    * bit; argmax breaks ties on vec_id in both.
    */
  def qEmbMmr(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = embE(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("e").as("qe"))
      .withColumn("q_norm", norm(col("qe")))
    val pool = emb.filter(col("vec_id") >= nQueryVecs)
      .crossJoin(broadcast(q))
      .withColumn("norm", norm(col("e")))
      .withColumn("simq",
        cosine(col("qe"), col("q_norm"), col("e"), col("norm")))
      .select(col("vec_id"), col("e"), col("norm"), col("simq"))
      .orderBy(col("simq").desc, col("vec_id")).limit(mmrPoolK)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1).toArray,
        r.getAs[Double]("norm"), r.getAs[Double]("simq")))
    // strict left-to-right fold — the same association as [[dot]] /
    // list_dot_product, so cross-candidate sims are bit-identical to what
    // the in-plan expression would produce
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    var sel = Vector.empty[(Long, Array[Double], Double)]
    val out = (1 to mmrK).map { r =>
      val scored = pool.filter(p => !sel.exists(_._1 == p._1)).map {
        case (id, e, n, sq) =>
          val ms = if (sel.isEmpty) 0.0
            else sel.map(s => dotd(e, s._2) / (n * s._3)).max
          (id, e, n, sq, ms, mmrLambda * sq - (1.0 - mmrLambda) * ms)
      }
      val best = scored.minBy { case (id, _, _, _, _, m) => (-m, id) }
      sel = sel :+ ((best._1, best._2, best._3))
      (r, best._1, best._4, best._5, best._6)
    }
    import spark.implicits._
    out.toDF("pick_rank", "vec_id", "simq", "msim", "mmr")
      .orderBy(col("pick_rank"))
  }

  /** Oracle: the greedy rounds unrolled as CTEs (the [[graft.ext.Graph]]
    * min-plus pattern), each round a pool-vs-selected max + a LIMIT 1
    * argmax on the identical (mmr DESC, vec_id) order. */
  val qEmbMmrSql: String = {
    val lam = s"CAST($mmrLambda AS DOUBLE)"
    val oneMinus = s"CAST(${1.0 - mmrLambda} AS DOUBLE)"
    def round(r: Int): String = {
      val prevSel = s"s${r - 1}"
      s"""m$r AS (
         |  SELECT p.vec_id, max(${cosineSql("p.v", "p.norm", "s.v", "s.norm")}) AS msim
         |  FROM pool p, $prevSel s GROUP BY p.vec_id
         |),
         |sc$r AS (
         |  SELECT p.vec_id, p.simq, m.msim FROM pool p JOIN m$r m USING (vec_id)
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM $prevSel)
         |),
         |p$r AS (
         |  SELECT vec_id, simq, msim, $lam * simq - $oneMinus * msim AS mmr
         |  FROM sc$r ORDER BY mmr DESC, vec_id LIMIT 1
         |),
         |s$r AS (
         |  SELECT * FROM $prevSel
         |  UNION ALL SELECT pool.vec_id, v, norm FROM pool JOIN p$r USING (vec_id)
         |)""".stripMargin
    }
    val rounds = (2 to mmrK).map(round).mkString(",\n")
    val finalSel = (1 to mmrK)
      .map(r => s"SELECT $r AS pick_rank, vec_id, simq, msim, mmr FROM p$r")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qe, ${normSql("v")} AS qn FROM e WHERE vec_id = 0),
       |pool AS (
       |  SELECT vec_id, v, ${normSql("v")} AS norm,
       |    ${cosineSql("qe", "qn", "v", normSql("v"))} AS simq
       |  FROM e, q WHERE vec_id >= $nQueryVecs
       |  ORDER BY simq DESC, vec_id LIMIT $mmrPoolK
       |),
       |sc1 AS (SELECT vec_id, simq, CAST(0.0 AS DOUBLE) AS msim FROM pool),
       |p1 AS (
       |  SELECT vec_id, simq, msim, $lam * simq - $oneMinus * msim AS mmr
       |  FROM sc1 ORDER BY mmr DESC, vec_id LIMIT 1
       |),
       |s1 AS (SELECT pool.vec_id, v, norm FROM pool JOIN p1 USING (vec_id)),
       |$rounds
       |SELECT pick_rank, vec_id, simq, msim, mmr FROM (
       |  $finalSel
       |) ORDER BY pick_rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // Product quantization: per-subspace codebooks + ADC probe
  // ------------------------------------------------------------------

  /** PQ geometry: [[pqM]] subspaces of [[pqSub]] dims each (4×16 = the
    * 64-dim embedding exactly). Codes per subspace = the label count (the
    * codebook is the per-label subspace means — deterministic and already
    * oracle-mirrored via [[qEmbLabelCentroids]]'s centroid CTE; a
    * production index would train per-subspace k-means with
    * [[Similarity.kmeans]] instead, same shapes).
    */
  val pqM = 4
  val pqSub = 16

  /** One-row PQ codebook: `cb` = array of (s, code, cv[16], cc) sorted by
    * (s, code), derived from the per-label centroids ([[centroidsLong]] —
    * the same sequential-fold means the oracle mirrors). Broadcast-crossed
    * into the encode/probe sides exactly like [[centroidArrayDf]].
    */
  private def pqCodebookOf(embIn: DataFrame): DataFrame = {
    val full = centroidsLongOf(embIn)
      .groupBy(col("label").as("code"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("c")))),
        p => p.getField("c")).as("cv64"))
    full
      .select(col("code"), explode(expr(
        s"transform(sequence(0, ${pqM - 1}), s -> named_struct(" +
          s"'s', s, 'cv', slice(cv64, s * $pqSub + 1, $pqSub)))")).as("sub"))
      .select(col("sub.s").as("s"), col("code"), col("sub.cv").as("cv"))
      .withColumn("cc", dot(col("cv"), col("cv")))
      .agg(array_sort(collect_list(struct(col("s"), col("code"), col("cv"), col("cc"))))
        .as("cb"))
  }

  /** Squared distance from subspace `s`'s slice of `e` to the codebook
    * entry `c` (centroid `c.cv`, self-dot `c.cc`), as Spark-SQL text.
    */
  private def pqSqDistExpr(s: String): String = {
    val v = s"slice(e, $s * $pqSub + 1, $pqSub)"
    sqDistExprSql(dotExpr(v, v), v, "c.cv", "c.cc")
  }

  /** Per-subspace encode: `codes[s]` = argmin over the codebook's subspace-
    * `s` entries of ‖v_s − c‖² (= v_s·v_s − 2 v_s·c + c·c, code tiebreak).
    * A per-row fold over the broadcast constant-size codebook — NARROW,
    * zero corpus exchange, the [[probeCells]] discipline.
    */
  private val pqCodesExpr: String =
    s"transform(sequence(0, ${pqM - 1}), s -> element_at(array_sort(" +
      s"transform(filter(cb, c -> c.s = s), c -> named_struct(" +
      s"'d', ${pqSqDistExpr("s")}, 'code', c.code))), 1).code)"

  /** Product-quantization ANN with asymmetric distance computation (ADC)
    * — the memory-bound half of a FAISS-style index: candidates are
    * compressed to [[pqM]] small codes (here 4 bytes a vector vs 256
    * bytes of floats), queries stay exact, and each query×candidate
    * distance is a [[pqM]]-term table lookup Σ_s d[s][code_s] instead of
    * a 64-dim dot product. Approximate by construction; the spec pins the
    * recall floor against exact L2 top-k and checks code stability.
    *
    * Scale: encode is a broadcast-codebook per-row fold (narrow, zero
    * corpus exchange — the same discipline as [[probeCells]], asserted in
    * PlanAssertionsSpec); each query's distance TABLE (m×codes doubles)
    * is computed once on the broadcast query side, so the per-candidate
    * work is O(m) lookups regardless of dim. The final top-k runs on the
    * native [[graft.plans.TopKPerKey]] heap operator — no window
    * exchange of the Q×N scored rows. At 100 TB the codes are computed
    * at WRITE time next to the vectors (the [[lshBucketCol]]/Bucketing
    * path) and the scan reads 4-byte codes, not embeddings — a 64×
    * scan-byte reduction, which is the entire point of PQ.
    *
    * Determinism: every double is a sequential fold in a fixed order
    * (subspace dots element-ordered, ADC sum in subspace order s=0..m−1),
    * argmin/top-k tiebreaks on (code) / (vec_id) — both engines agree
    * bit-for-bit.
    */
  def qEmbPqAdc(spark: SparkSession, sfDir: String): DataFrame =
    pqAdcOf(Tables.embeddings(spark, sfDir))

  /** The PQ kernel behind [[qEmbPqAdc]], reusable over any
    * (vec_id, label, embedding) frame — NewOpsSpec feeds it planted
    * clusters where compression must preserve the exact top-k.
    */
  def pqAdcOf(embIn: DataFrame): DataFrame = {
    // eager: encode and distance-table sides race this cache
    val cbArr = Exec.share(pqCodebookOf(embIn))
    val emb = embIn
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
    // candidates: compressed to 4 codes each
    val cand = emb.filter(col("vec_id") >= nQueryVecs)
      .crossJoin(broadcast(cbArr))
      .select(col("vec_id"), expr(pqCodesExpr).as("codes"))
    // queries: full per-(subspace, code) distance table
    val q = emb.filter(col("vec_id") < nQueryVecs)
      .crossJoin(broadcast(cbArr))
      .select(col("vec_id").as("q_id"), expr(
        s"transform(cb, c -> named_struct('s', c.s, 'code', c.code, 'd'," +
          s" ${pqSqDistExpr("c.s")}))")
        .as("dtab"))
    val scored = cand.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), expr(
        s"aggregate(sequence(0, ${pqM - 1}), cast(0 as double), (acc, s) -> acc +" +
          s" element_at(filter(dtab, t -> t.s = s AND t.code = element_at(codes, s + 1)), 1).d)")
        .as("adc_dist"))
    graft.functions.GraftOps.topKPerKey(scored,
        keys = Seq("q_id"), order = Seq(("adc_dist", false), ("vec_id", false)), k = topK)
      .orderBy(col("q_id"), col("adc_dist"), col("vec_id"))
  }

  val qEmbPqAdcSql: String = {
    val vs = s"list_slice(v, cb.s * $pqSub + 1, cb.s * $pqSub + $pqSub)"
    s"""WITH $centroidsLongSql,
       |cent AS (SELECT label AS code, list(c ORDER BY i) AS cv64 FROM cl GROUP BY label),
       |sub AS (SELECT unnest(generate_series(0, ${pqM - 1})) AS s),
       |cb AS (
       |  SELECT s, code, list_slice(cv64, s * $pqSub + 1, s * $pqSub + $pqSub) AS cv,
       |    list_dot_product(list_slice(cv64, s * $pqSub + 1, s * $pqSub + $pqSub),
       |                     list_slice(cv64, s * $pqSub + 1, s * $pqSub + $pqSub)) AS cc
       |  FROM cent, sub
       |),
       |enc AS (
       |  SELECT vec_id, s, code,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
       |  FROM (
       |    SELECT e.vec_id, cb.s, cb.code,
       |      ${sqDistSql(s"list_dot_product($vs, $vs)", vs, "cb.cv", "cb.cc")} AS d
       |    FROM e, cb
       |    WHERE e.vec_id >= $nQueryVecs
       |  )
       |),
       |codes AS (SELECT vec_id, s, code FROM enc WHERE rn = 1),
       |dtab AS (
       |  SELECT e.vec_id AS q_id, cb.s, cb.code,
       |    ${sqDistSql(s"list_dot_product($vs, $vs)", vs, "cb.cv", "cb.cc")} AS d
       |  FROM e, cb
       |  WHERE e.vec_id < $nQueryVecs
       |),
       |adc AS (
       |  SELECT dtab.q_id, codes.vec_id,
       |    list_reduce(list(dtab.d ORDER BY dtab.s), (a, b) -> a + b) AS adc_dist
       |  FROM codes JOIN dtab ON dtab.s = codes.s AND dtab.code = codes.code
       |  GROUP BY dtab.q_id, codes.vec_id
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, adc_dist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
       |  FROM adc
       |)
       |SELECT q_id, vec_id, adc_dist FROM ranked
       |WHERE rn <= $topK ORDER BY q_id, adc_dist, vec_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // IVF-PQ: coarse cells + product-quantized RESIDUALS (the FAISS index)
  // ------------------------------------------------------------------

  /** IVF-PQ with residual quantization — the composition production ANN
    * indexes actually ship (FAISS `IVFPQ`): every vector is assigned to
    * its nearest coarse cell ([[probeCells]] against the broadcast
    * quantizer), the RESIDUAL v − centroid(cell) is what gets
    * PQ-compressed (residuals are centered and small, so the same code
    * budget spends its precision where the data is — the reason IVFPQ
    * beats flat PQ at equal bytes), and a query scans only its own
    * cell's candidates by ADC against its own residual. [[qEmbAnnIvf]]
    * is the cell-pruning half, [[qEmbPqAdc]] the compression half; this
    * is the joint structure, cell-equi-joined so no candidate outside
    * the probed cell is ever scored.
    *
    * Determinism: the coarse assignment is [[probeCells]]' (distance,
    * cell) argmin; residuals subtract sequential-fold centroid means
    * (identical doubles both engines); the residual codebook is
    * [[pqCodebookOf]] on the residual frame (per-label subspace means —
    * deterministic stand-in for per-subspace k-means, the [[pqM]]
    * geometry); encode/ADC reuse the PQ folds (subspace dots
    * element-ordered, ADC summed s = 0..m−1, argmin/top-k integer
    * tiebreaks). NOTE on the stand-in: because the coarse cells here ARE
    * the label centroids, per-label residual means sit near zero — the
    * codebook demonstrates the exact STRUCTURE (and NewOpsSpec asserts
    * the ADC identity: scored distance ≡ L2 to the decoded residual),
    * but retrieval quality needs the production step of training
    * per-subspace k-means on residuals ([[kmeans]]); the recall audit
    * arms ([[qEmbAnnRecall]]) apply to that index unchanged.
    *
    * Scale (100 TB): assignment and encode are broadcast-probe NARROW
    * (zero corpus exchange — the [[probeCells]]/[[pqCodesExpr]]
    * discipline); the residual subtraction is one broadcast join on the
    * ≤k-row cell table; the only corpus-keyed exchange is the vec_id
    * label rejoin and the final cell-equi probe (bounded by cell size);
    * the top-k is the [[graft.plans.TopKPerKey]] heap. At write time
    * the codes (4 bytes) and cell id are stored next to the vectors and
    * the scan never reads raw embeddings — the 64× byte reduction plus
    * cell pruning that makes 100 TB ANN serveable.
    */
  def qEmbIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val embRaw = Tables.embeddings(spark, sfDir)
    // spread on vec_id: the whole pipeline is broadcast-probe narrow, so
    // every stage inherits this partitioning
    val emb = Exec.spread(embRaw
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e")), col("vec_id"))
    // THIS call owns both persists: the quantizer feeds assignment and the
    // residual-centroid derivation; the residual codebook feeds encode and
    // the query distance tables.
    val centArr = Exec.share(centroidArrayDf(spark, sfDir, None))
    val cellVec = centArr
      .select(explode(col("cents")).as("c"))
      .select(col("c.c_label").as("cell"), col("c.cv").as("cv64"))
    val resid = probeCells(emb, centArr, 1)
      .join(broadcast(cellVec), "cell")
      .select(col("vec_id"), col("cell"),
        expr("zip_with(e, cv64, (a, b) -> a - b)").as("embedding"))
      .join(embRaw.select(col("vec_id"), col("label")), "vec_id")
    val rcb = Exec.share(pqCodebookOf(resid))
    val cand = resid.filter(col("vec_id") >= nQueryVecs)
      .select(col("vec_id"), col("cell"), col("embedding").as("e"))
      .crossJoin(broadcast(rcb))
      .select(col("vec_id"), col("cell"), expr(pqCodesExpr).as("codes"))
    val q = resid.filter(col("vec_id") < nQueryVecs)
      .select(col("vec_id"), col("cell"), col("embedding").as("e"))
      .crossJoin(broadcast(rcb))
      .select(col("vec_id").as("q_id"), col("cell").as("q_cell"), expr(
        s"transform(cb, c -> named_struct('s', c.s, 'code', c.code, 'd'," +
          s" ${pqSqDistExpr("c.s")}))")
        .as("dtab"))
    val scored = cand.join(broadcast(q), col("q_cell") === col("cell"))
      .select(col("q_id"), col("vec_id"), col("cell"), expr(
        s"aggregate(sequence(0, ${pqM - 1}), cast(0 as double), (acc, s) -> acc +" +
          s" element_at(filter(dtab, t -> t.s = s AND t.code = element_at(codes, s + 1)), 1).d)")
        .as("adc_dist"))
    graft.functions.GraftOps.topKPerKey(scored,
        keys = Seq("q_id"), order = Seq(("adc_dist", false), ("vec_id", false)), k = topK)
      .orderBy(col("q_id"), col("adc_dist"), col("vec_id"))
  }

  val qEmbIvfPqSql: String = {
    val rs = s"list_slice(r, rcb.s * $pqSub + 1, rcb.s * $pqSub + $pqSub)"
    s"""WITH $centroidsLongSql,
       |${centListSql("cent", "cl")},
       |assigned AS (${assignSql("e", "cent")}),
       |resid AS (
       |  SELECT vec_id, label, cell,
       |    list_transform(range(1, ${embDim + 1}), i -> v[i] - cv[i]) AS r
       |  FROM assigned JOIN cent ON cent.c_label = assigned.cell WHERE rn = 1
       |),
       |rcl AS (
       |  SELECT label, i,
       |    list_reduce(list(r[i] ORDER BY vec_id), (a, b) -> a + b) / count(*) AS c
       |  FROM resid, (SELECT unnest(generate_series(1, $embDim)) AS i) pos
       |  GROUP BY label, i
       |),
       |rcent AS (SELECT label AS code, list(c ORDER BY i) AS cv64 FROM rcl GROUP BY label),
       |sub AS (SELECT unnest(generate_series(0, ${pqM - 1})) AS s),
       |rcb AS (
       |  SELECT s, code, list_slice(cv64, s * $pqSub + 1, s * $pqSub + $pqSub) AS cv,
       |    list_dot_product(list_slice(cv64, s * $pqSub + 1, s * $pqSub + $pqSub),
       |                     list_slice(cv64, s * $pqSub + 1, s * $pqSub + $pqSub)) AS cc
       |  FROM rcent, sub
       |),
       |enc AS (
       |  SELECT vec_id, cell, s, code,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
       |  FROM (
       |    SELECT resid.vec_id, resid.cell, rcb.s, rcb.code,
       |      ${sqDistSql(s"list_dot_product($rs, $rs)", rs, "rcb.cv", "rcb.cc")} AS d
       |    FROM resid, rcb
       |    WHERE resid.vec_id >= $nQueryVecs
       |  )
       |),
       |codes AS (SELECT vec_id, cell, s, code FROM enc WHERE rn = 1),
       |dtab AS (
       |  SELECT resid.vec_id AS q_id, resid.cell AS q_cell, rcb.s, rcb.code,
       |    ${sqDistSql(s"list_dot_product($rs, $rs)", rs, "rcb.cv", "rcb.cc")} AS d
       |  FROM resid, rcb
       |  WHERE resid.vec_id < $nQueryVecs
       |),
       |adc AS (
       |  SELECT q_id, codes.vec_id, codes.cell,
       |    list_reduce(list(dtab.d ORDER BY dtab.s), (a, b) -> a + b) AS adc_dist
       |  FROM codes JOIN dtab ON dtab.s = codes.s AND dtab.code = codes.code
       |    AND dtab.q_cell = codes.cell
       |  GROUP BY q_id, codes.vec_id, codes.cell
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, cell, adc_dist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
       |  FROM adc
       |)
       |SELECT q_id, vec_id, cell, adc_dist FROM ranked
       |WHERE rn <= $topK ORDER BY q_id, adc_dist, vec_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // TwoNN intrinsic dimension: how many dims does the data really use?
  // ------------------------------------------------------------------

  /** Deterministic sample modulus for the TwoNN probe points. Literal
    * RHS `final` per the init-cycle rule.
    */
  final val twonnSampleMod = 20L

  /** TWO-NN INTRINSIC DIMENSION (Facco et al. 2017) of the embedding
    * corpus — the answer to "the vectors have 64 coordinates, but how
    * many dimensions does the data actually OCCUPY?": for each probe
    * point the ratio μ = r₂/r₁ of its two nearest-neighbor distances
    * follows a Pareto law with exponent equal to the intrinsic
    * dimension, so d̂ = K / Σ ln μᵢ — no density model, no scale
    * parameter, just two neighbors per point. Low d̂ against 64
    * ambient dims quantifies the anisotropy/manifold story
    * ([[qEmbAnisotropy]], [[qEmbEnergySpectrum]]) in the unit
    * downstream index tuning actually uses (cell counts, PQ bits).
    * Probe points are the deterministic vec_id ≡ 0 (mod
    * [[twonnSampleMod]]) sample; coincident-point probes (r₁ = 0) are
    * excluded and counted.
    *
    * Determinism: squared distances are the element-ordered zip_with
    * fold (identical doubles both engines); per-probe r₁/r₂ pick is
    * the native heap top-2 with (distance, vec_id) tiebreak; the sum
    * of log ratios is an EXACT BIGINT of quantized micro-nat log
    * DIFFERENCES (ln μ = (qlog r₂² − qlog r₁²)/2, so
    * d̂ = 2·K·10⁶/Σδ closes in one division).
    *
    * Scale (100 TB): the probe side is a broadcast (|corpus|/mod
    * rows); distances stream over the corpus NARROWLY (the sanctioned
    * broadcast nested loop, [[qEmbCosineTopk]]'s shape); top-2 is the
    * [[graft.plans.TopKPerKey]] heap — no Q×N exchange. At larger
    * scale the probe runs per IVF cell ([[probeCells]]) — same
    * estimator, cell-bounded candidates.
    */
  /** The per-probe squared distance of the TwoNN estimator: the
    * element-ordered zip_with fold (identical doubles both engines). */
  private val twonnD2Expr: String =
    "aggregate(zip_with(e, se, (x, y) -> (x - y) * (x - y))," +
      " cast(0 as double), (acc, p) -> acc + p)"

  /** Shared TwoNN estimator core over a scored candidate frame (columns:
    * `keyCols` + s_id + vec_id + d2): heap top-2 per probe, the
    * (nc, r₁, r₂) per-probe row, and the quantized micro-nat log-ratio
    * of the usable probes — ONE definition of the estimator constants
    * for the global ([[qEmbTwonnId]]) and per-cell ([[qEmbTwonnCell]])
    * variants, which differ only in candidate scoping and close-out
    * keying. Returns (perProbe, used). */
  private def twonnPerProbe(scored: DataFrame, keyCols: Seq[String])
      : (DataFrame, DataFrame) = {
    val top2 = graft.functions.GraftOps.topKPerKey(scored,
      keys = Seq("s_id"), order = Seq(("d2", false), ("vec_id", false)), k = 2)
    val perProbe = top2.groupBy((keyCols.map(col) :+ col("s_id")): _*)
      .agg(count(lit(1)).as("nc"), min(col("d2")).as("r1"), max(col("d2")).as("r2"))
    val used = perProbe.filter(col("nc") === 2 && col("r1") > 0.0)
      .select((keyCols.map(col) :+
        (quantLog(col("r2")) - quantLog(col("r1"))).as("dq")): _*)
    (perProbe, used)
  }

  def qEmbTwonnId(spark: SparkSession, sfDir: String): DataFrame = {
    // spread: the probe cross-join evaluates |sample| distances per vector
    val emb = Exec.spread(Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")), col("vec_id"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
    val sample = emb.filter(col("vec_id") % twonnSampleMod === 0)
      .select(col("vec_id").as("s_id"), col("e").as("se"))
    val scored = emb.crossJoin(broadcast(sample))
      .filter(col("vec_id") =!= col("s_id"))
      .select(col("s_id"), col("vec_id"), expr(twonnD2Expr).as("d2"))
    val (perProbe, used) = twonnPerProbe(scored, Seq.empty)
    val total = perProbe.agg(count(lit(1)).as("n_sample"))
    used.agg(count(lit(1)).as("n_used"), sum(col("dq")).as("sum_qlog_ratio"))
      .crossJoin(broadcast(total))
      .filter(col("sum_qlog_ratio") > 0)
      .select(col("n_sample"), col("n_used"), col("sum_qlog_ratio"),
        ((lit(2.0) * col("n_used").cast("double") * 1000000.0) /
          col("sum_qlog_ratio").cast("double")).as("id_twonn"))
  }

  /** The shared ranked/per_probe/used CTE block of the TwoNN estimator
    * (one source for the top-2 tiebreak, the nc/r₁ usability filter and
    * the micro-nat quantization in BOTH oracle variants): `kp` is the
    * grouping-key prefix ("" global, "cell, " per-cell); `usedKey` the
    * column `used` carries into the close-out. Expects a `scored` CTE
    * with ($kp s_id, vec_id, d2). */
  private def twonnCloseSqlCtes(kp: String, usedKey: String): String =
    s"""ranked AS (
       |  SELECT ${kp}s_id, d2,
       |    row_number() OVER (PARTITION BY s_id ORDER BY d2, vec_id) AS rn
       |  FROM scored
       |),
       |per_probe AS (
       |  SELECT ${kp}s_id, count(*) AS nc, min(d2) AS r1, max(d2) AS r2
       |  FROM ranked WHERE rn <= 2 GROUP BY ${kp}s_id
       |),
       |used AS (
       |  SELECT $usedKey,
       |    ${quantLogSql("r2")} -
       |    ${quantLogSql("r1")} AS dq
       |  FROM per_probe WHERE nc = 2 AND r1 > 0.0
       |)""".stripMargin

  /** The estimator's squared distance in DuckDB list form (element-
    * ordered fold — the oracle mirror of [[twonnD2Expr]]). */
  private def twonnD2Sql(v: String, sv: String): String =
    s"""list_reduce(
       |      list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(range(1, ${embDim + 1}),
       |          i -> ($v[i] - $sv[i]) * ($v[i] - $sv[i]))),
       |      (x, y) -> x + y)""".stripMargin

  val qEmbTwonnIdSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |),
       |sample AS (
       |  SELECT vec_id AS s_id, v AS sv FROM e WHERE vec_id % $twonnSampleMod = 0
       |),
       |scored AS (
       |  SELECT s_id, vec_id,
       |    ${twonnD2Sql("v", "sv")} AS d2
       |  FROM e CROSS JOIN sample
       |  WHERE vec_id <> s_id
       |),
       |${twonnCloseSqlCtes("", "s_id")},
       |total AS (SELECT count(*) AS n_sample FROM per_probe)
       |SELECT n_sample, count(*) AS n_used,
       |  CAST(sum(dq) AS BIGINT) AS sum_qlog_ratio,
       |  (2.0 * CAST(count(*) AS DOUBLE) * 1000000.0) /
       |    CAST(sum(dq) AS DOUBLE) AS id_twonn
       |FROM used CROSS JOIN total
       |GROUP BY n_sample
       |HAVING sum(dq) > 0""".stripMargin

  /** PER-IVF-CELL TwoNN intrinsic dimension — the documented scale
    * variant of [[qEmbTwonnId]] made first-class: every vector is
    * assigned to its nearest centroid cell (the [[probeCells]] narrow
    * fold, nprobe=1) and each probe's two nearest neighbors are found
    * WITHIN ITS CELL ONLY, so the candidate pairing is a cell EQUI-join
    * — the corpus-wide broadcast nested loop of the global estimator
    * never happens. Output: one row per cell with its LOCAL intrinsic
    * dimension — the per-cell manifold width that sizes a per-cell PQ
    * codebook or residual quantizer honestly (cells on a flat patch
    * need fewer bits than cells straddling a fold).
    *
    * Estimator caveat, stated not hidden: restricting neighbors to the
    * cell clips r₂ at cell boundaries, so cell-local d̂ is biased
    * upward for probes near a boundary — the price of never shipping
    * the probe set corpus-wide; with ~n/k vectors per cell the bias is
    * small and uniform across cells, and relative cell-to-cell
    * comparison (the tuning signal) is unaffected.
    *
    * Scale (100 TB): assignment is narrow (1-row quantizer broadcast);
    * the pairing shuffles BY CELL (both sides partition on the cell id,
    * candidate volume is cell-bounded |cell|·|cell|/mod, never Q×N);
    * top-2 is the [[graft.plans.TopKPerKey]] heap; the closing join is
    * k-row against k-row. Nothing corpus-sized ever broadcasts —
    * PlanAssertionsSpec pins the shuffled-hash cell pairing.
    */
  def qEmbTwonnCell(spark: SparkSession, sfDir: String): DataFrame = {
    // eager: assignment consumes the quantizer
    val centArr = Exec.share(centroidArrayDf(spark, sfDir, None))
    val emb = embE(spark, sfDir)
    // eager: both pairing sides consume it
    val assigned = Exec.share(probeCells(emb, centArr, 1)
      .select(col("vec_id"), col("e"), col("cell")))
    val probes = assigned.filter(col("vec_id") % twonnSampleMod === 0)
      .select(col("cell"), col("vec_id").as("s_id"), col("e").as("se"))
    // pairing SHUFFLES BY CELL on both sides (shuffle-hash hint): the
    // probe side is |corpus|/mod rows and must never broadcast whole —
    // the exact failure the global estimator's Q×N loop has at scale
    val scored = assigned.join(probes.hint("shuffle_hash"), Seq("cell"))
      .filter(col("vec_id") =!= col("s_id"))
      .select(col("cell"), col("s_id"), col("vec_id"),
        expr(twonnD2Expr).as("d2"))
    val (perProbe, used) = twonnPerProbe(scored, Seq("cell"))
    val totals = perProbe.groupBy(col("cell")).agg(count(lit(1)).as("n_sample"))
    used.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_used"), sum(col("dq")).as("sum_qlog_ratio"))
      .join(broadcast(totals), "cell")
      .filter(col("sum_qlog_ratio") > 0)
      .select(col("cell"), col("n_sample"), col("n_used"), col("sum_qlog_ratio"),
        ((lit(2.0) * col("n_used").cast("double") * 1000000.0) /
          col("sum_qlog_ratio").cast("double")).as("id_twonn"))
      .orderBy(col("cell"))
  }

  val qEmbTwonnCellSql: String =
    s"""WITH $centroidsLongSql,
       |${centListSql("cent", "cl")},
       |assigned AS (${assignSql("e", "cent")}),
       |a AS (SELECT vec_id, v, cell FROM assigned WHERE rn = 1),
       |probes AS (
       |  SELECT cell, vec_id AS s_id, v AS sv FROM a
       |  WHERE vec_id % $twonnSampleMod = 0
       |),
       |scored AS (
       |  SELECT a.cell, s_id, a.vec_id,
       |    ${twonnD2Sql("v", "sv")} AS d2
       |  FROM a JOIN probes ON a.cell = probes.cell AND a.vec_id <> probes.s_id
       |),
       |${twonnCloseSqlCtes("cell, ", "cell")},
       |tot AS (SELECT cell, count(*) AS n_sample FROM per_probe GROUP BY cell)
       |SELECT tot.cell, n_sample, count(*) AS n_used,
       |  CAST(sum(dq) AS BIGINT) AS sum_qlog_ratio,
       |  (2.0 * CAST(count(*) AS DOUBLE) * 1000000.0) /
       |    CAST(sum(dq) AS DOUBLE) AS id_twonn
       |FROM used JOIN tot ON used.cell = tot.cell
       |GROUP BY tot.cell, n_sample
       |HAVING sum(dq) > 0
       |ORDER BY tot.cell""".stripMargin

  // ------------------------------------------------------------------
  // k-means: one distributed Lloyd iteration over the embedding corpus
  // ------------------------------------------------------------------

  val kmeansK = 8

  /** One full Lloyd iteration of k-means — the clustering pass a training
    * -data pipeline runs to build an IVF index or diversity-sample a
    * corpus. Init is deterministic (the per-label centroids of labels
    * 0..k-1); the iteration is the canonical distributed shape:
    *
    *   1. ASSIGN — [[probeCells]] against the broadcast single-row
    *      centroid array: per-vector argmin of ||v−c||², NARROW (zero
    *      exchange, zero fan-out of the corpus).
    *   2. UPDATE — re-aggregate centroids as per-(cell, dim) means: ONE
    *      groupBy shuffle whose input is posexploded (cell, dim, x) rows.
    *
    * At 100 TB this iterates unchanged: the corpus never moves except the
    * one partial-aggregated update shuffle per iteration (map-side combine
    * reduces it to k×dim rows per task). Means use the same sequential
    * double fold as [[qEmbLabelCentroids]] (oracle-protocol determinism —
    * a production run would use the plain `avg`, which [[kmeans]] does).
    *
    * Output: new centroid (cell, i, c) plus each cell's member count —
    * n_members is constant over i within a cell; keeping the long format
    * matches [[qEmbLabelCentroids]] and keeps the oracle mechanical.
    */
  def qEmbKmeansIter(spark: SparkSession, sfDir: String): DataFrame = {
    val centArr = centroidArrayDf(spark, sfDir, Some(kmeansK))
      .persist() // feeds the single assignment pass; derived via a full posexplode
    val emb = embE(spark, sfDir)
    val assigned = probeCells(emb, centArr, nprobe = 1)
      .select(col("vec_id"), col("cell"), col("e"))
    assigned
      .select(col("vec_id"), col("cell"), posexplode(col("e")).as(Seq("pos0", "x")))
      .select(col("vec_id"), col("cell"), (col("pos0") + 1).as("i"), col("x"))
      .groupBy(col("cell"), col("i"))
      .agg(
        (orderedSum("vec_id", "x") / count(lit(1))).as("c"),
        count(lit(1)).as("n_members"))
      .orderBy(col("cell"), col("i"))
  }

  /** Multi-iteration distributed Lloyd k-means over the embedding corpus —
    * the production generalization of [[qEmbKmeansIter]] (which stays the
    * oracle-checked single iteration). Returns the final centroids in the
    * same long (cell, i, c, n_members) format plus the per-iteration total
    * within-cluster squared distance (WCSS, measured at ASSIGN time), which
    * Lloyd guarantees non-increasing — NewOpsSpec asserts it.
    *
    * Iteration shape (per round): one [[probeCells]] assign (narrow — the
    * 1-row centroid array is rebuilt as a literal from the k×dim collected
    * update, the same driver-sync every distributed k-means does per
    * iteration) + one partial-aggregated update shuffle (posexploded
    * (cell, dim) keys, map-side combine → k×dim rows per task) + one
    * WCSS aggregate riding the same assignment. Collecting k×dim doubles
    * per round is NOT a driver-side data loop: it is the constant-size
    * model state, identical at every corpus scale. Means here are the
    * plain partial-aggregated `avg` (the production path; the sequential
    * fold in [[qEmbKmeansIter]] is oracle-protocol only). Cells that lose
    * all members drop out (standard Lloyd degeneracy handling; k can only
    * shrink, WCSS stays monotone).
    */
  def kmeans(spark: SparkSession, sfDir: String, k: Int, iters: Int): (DataFrame, Seq[Double]) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val emb = embE(spark, sfDir)
      .persist() // read `iters` times; production would already be columnar-cached
    val centType = "array<struct<c_label:int,cv:array<double>,cc:double>>"
    def litCentArr(cents: Seq[(Int, Seq[Double], Double)]): DataFrame =
      spark.range(1).select(typedlit(cents).cast(centType).as("cents"))

    val init: Seq[(Int, Seq[Double], Double)] = centroidArrayDf(spark, sfDir, Some(k))
      .selectExpr("inline(cents)")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2))).toSeq

    var cents = init
    val wcss = scala.collection.mutable.ArrayBuffer.empty[Double]
    var updated: DataFrame = null
    for (i <- 1 to iters) {
      val assigned = probeCells(emb, litCentArr(cents), nprobe = 1)
        .select(col("vec_id"), col("cell"), col("dist"), col("e"))
        .persist() // feeds WCSS + update; one assignment pass per iteration
      wcss += assigned.agg(sum(col("dist"))).head().getDouble(0)
      updated = assigned
        .select(col("cell"), posexplode(col("e")).as(Seq("pos0", "x")))
        .select(col("cell"), (col("pos0") + 1).as("i"), col("x"))
        .groupBy(col("cell"), col("i"))
        .agg(avg(col("x")).as("c"), count(lit(1)).as("n_members"))
      // the final iteration's result is persisted BEFORE the collect below
      // materializes it, so the returned frame serves from cache instead of
      // re-running the last assign+update when the caller evaluates it
      if (i == iters) updated.persist()
      cents = updated
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
          p => p.getField("c")).as("cv"))
        .collect()
        .map { r =>
          val cv = r.getSeq[Double](1)
          (r.getInt(0), cv, cv.foldLeft(0.0)((s, x) => s + x * x))
        }.toSeq.sortBy(_._1)
      assigned.unpersist()
    }
    emb.unpersist()
    // returned frame stays cached (k×dim rows); caller may unpersist
    (updated.orderBy(col("cell"), col("i")), wcss.toSeq)
  }

  val qEmbKmeansIterSql: String =
    s"""WITH $centroidsLongSql,
       |${centListSql("cent", "cl", s" WHERE label < $kmeansK")},
       |assigned AS (${assignSql("e", "cent")})
       |SELECT cell, CAST(i AS INTEGER) AS i,
       |  list_reduce(list(v[i] ORDER BY vec_id), (a, b) -> a + b) / count(*) AS c,
       |  count(*) AS n_members
       |FROM assigned, pos
       |WHERE rn = 1
       |GROUP BY cell, i
       |ORDER BY cell, i""".stripMargin

  // ------------------------------------------------------------------
  // Semantic dedup (SemDeDup): cluster cells bound the pairwise compare
  // ------------------------------------------------------------------

  val semDedupThreshold = 0.8

  /** Semantic deduplication — the EMBEDDING-space member of the dedup
    * family (SemDeDup shape: cluster the corpus, then compare pairs ONLY
    * within a cluster cell). Lexical dedup ([[Dedup]]) catches re-typed
    * copies; this catches re-phrasings that share no n-grams but sit on
    * top of each other in embedding space. Every vector is assigned to
    * its nearest centroid cell ([[probeCells]] — narrow, zero corpus
    * exchange); candidate pairs come from a self equi-join ON THE CELL
    * ID; a vector drops when it has a smaller-id within-cell neighbor
    * with cosine ≥ [[semDedupThreshold]] (the deterministic one-pass
    * greedy rule of [[Dedup.qDocCurate]]'s near-dup stage).
    *
    * Scale (100 TB): the clustering is what makes semantic dedup
    * tractable — pairwise cost is Σ(cell size)², never N². The cell
    * count must grow with the corpus (k ∝ √N keeps expected within-cell
    * work linear; production SemDeDup runs k in the tens of thousands —
    * here the constant-k label quantizer stands in, k = distinct labels).
    * The only corpus-sized shuffles are the cell-keyed self-join and the
    * final left join back on vec_id; at write time the cell id is a
    * bucketing key ([[graft.etl.Bucketing]]) and the self-join runs
    * exchange-free over co-located buckets.
    *
    * Corpus: the [[qEmbNearDup]] injection (every 25th vector re-appears
    * +0.5 on its first component, cosine ≈ 0.88–0.91 vs its source) so
    * the drop rule demonstrably fires; a copy whose perturbation crosses
    * a cell boundary is NOT caught — that recall loss is inherent to
    * cluster-bounded dedup (the paper's ε-ball is within-cluster too) and
    * is deterministic here, mirrored exactly by the oracle.
    *
    * Output: one row per corpus vector — (vec_id, cell, is_sem_dup).
    */
  def qEmbSemDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = embE(spark, sfDir)
    val perturbed = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("e"), 1) + lit(0.5)), slice(col("e"), 2, embDim - 1)).as("e"))
    // eager: both probeCells sides of the union consume it
    val centArr = Exec.share(centroidArrayDf(spark, sfDir, None))
    // eager: three consumers (both self-join sides + the output spine)
    val assigned = Exec.share(probeCells(emb.unionAll(perturbed), centArr, nprobe = 1)
      .select(col("vec_id"), col("cell"), col("e"), col("norm")))
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("norm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("norm").as("nb"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(cosine(col("ea"), col("na"), col("eb"), col("nb")) >= semDedupThreshold)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("is_sem_dup", lit(true))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_sem_dup"), lit(false)).as("is_sem_dup"))
      .orderBy(col("vec_id"))
  }

  val qEmbSemDedupSql: String =
    s"""WITH $centroidsLongSql,
       |${centListSql("cent", "cl")},
       |corpus AS (
       |  SELECT vec_id, v FROM e
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, list_concat([v[1] + 0.5], v[2:]) AS v
       |  FROM e WHERE vec_id % 25 = 0
       |),
       |assigned AS (
       |  SELECT *, ${normSql("v")} AS norm FROM (${assignSql("corpus", "cent")})
       |),
       |asg AS (SELECT vec_id, v, cell, norm FROM assigned WHERE rn = 1),
       |dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.v", "a.norm", "b.v", "b.norm")} >= $semDedupThreshold
       |)
       |SELECT asg.vec_id, cell, (dups.vec_id IS NOT NULL) AS is_sem_dup
       |FROM asg LEFT JOIN dups ON asg.vec_id = dups.vec_id
       |ORDER BY asg.vec_id""".stripMargin

  // ------------------------------------------------------------------
  // Int8 embedding quantization (per-vector symmetric scale)
  // ------------------------------------------------------------------

  /** Symmetric per-vector int8 quantization — the compression step a
    * 100 TB vector corpus ships with (4× smaller than float32, 8× smaller
    * than the double working form; ANN indexes serve the int8 codes and
    * only re-rank survivors at full precision). Each vector gets
    * `scale = max|x| / 127` and codes `q_i = floor(x_i/scale + 0.5)`
    * (floor(+0.5), NOT a bare cast — Spark truncates and DuckDB rounds on
    * double→int, the one cast class the oracle protocol bans). The output
    * rides the quality audit along with the codes' summary: per-vector
    * reconstruction RMSE and the quantized-vs-exact cosine against query
    * vector 0 — scale factors cancel in cosine, so the quantized cosine
    * uses the raw codes; the measured error IS the operator's accuracy
    * contract, visible in the checked output itself.
    *
    * Scale/determinism: entirely narrow (one 1-row broadcast for the
    * query vector, the [[probeCells]] pattern); every sum is a strictly
    * sequential fold in element order ([[dot]] for the cosines, an
    * index-ordered `zip_with`+`aggregate` / `generate_series`+
    * `list_reduce` pair for the RMSE), so both engines produce identical
    * doubles.
    */
  def qEmbQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = embE(spark, sfDir)
      .withColumn("scale",
        greatest(array_max(transform(col("e"), abs(_))), lit(1e-30)) / lit(127.0))
      // Spark floor → BIGINT, DuckDB floor → DOUBLE: cast back so the code
      // arrays are array<double> on both sides (values integral either way)
      .withColumn("q",
        transform(col("e"), x => floor(x / col("scale") + lit(0.5)).cast("double")))
    // norms of the constant broadcast side precomputed ONCE in the 1-row
    // frame (the qEmbCosineTopk pattern), not re-folded per corpus row
    val q0 = emb.filter(col("vec_id") === 0)
      .select(col("e").as("e0"), col("q").as("q0"),
        norm(col("e")).as("n_e0"),
        norm(col("q")).as("n_q0"))
    emb.crossJoin(broadcast(q0))
      .select(
        col("vec_id"), col("scale"),
        sqrt(aggregate(
          zip_with(col("q"), col("e"), (a, b) => (a * col("scale") - b) * (a * col("scale") - b)),
          lit(0.0), (acc, v) => acc + v) / lit(embDim.toDouble)).as("rmse"),
        cosine(col("e"), norm(col("e")), col("e0"), col("n_e0")).as("cos_exact"),
        cosine(col("q"), norm(col("q")), col("q0"), col("n_q0")).as("cos_quant"))
      .withColumn("cos_err", abs(col("cos_quant") - col("cos_exact")))
      .orderBy(col("vec_id"))
  }

  val qEmbQuantizeSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |    greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 1e-30) / 127.0 AS scale
       |  FROM embeddings
       |),
       |quant AS (
       |  SELECT vec_id, e, scale,
       |    list_transform(e, x -> floor(x / scale + 0.5)) AS q
       |  FROM emb
       |),
       |q0 AS (
       |  SELECT e AS e0, q AS q0,
       |    ${normSql("e")} AS n_e0, ${normSql("q")} AS n_q0
       |  FROM quant WHERE vec_id = 0
       |)
       |SELECT vec_id, scale,
       |  sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(generate_series(1, $embDim), i -> (q[i] * scale - e[i]) * (q[i] * scale - e[i]))),
       |    (acc, v) -> acc + v) / $embDim.0) AS rmse,
       |  ${cosineSql("e", normSql("e"), "e0", "n_e0")} AS cos_exact,
       |  ${cosineSql("q", normSql("q"), "q0", "n_q0")} AS cos_quant,
       |  abs(${cosineSql("q", normSql("q"), "q0", "n_q0")}
       |    - ${cosineSql("e", normSql("e"), "e0", "n_e0")}) AS cos_err
       |FROM quant, q0
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------
  // Random-projection dimensionality reduction (Achlioptas ±1)
  // ------------------------------------------------------------------

  /** Output dimensionality of the random projection. */
  val rprojK = 8

  /** Sign of the (j,i) entry of the ±1 projection matrix — the
    * [[planeSign]] family shifted to a disjoint index space so the
    * projection rows are uncorrelated with the LSH planes.
    */
  def rprojSign(j: Int, i: Int): Int = planeSign(1000 + j, i)

  /** Random-projection dimensionality reduction: project the 64-dim
    * embeddings to [[rprojK]] dims with a deterministic ±1 matrix scaled
    * by 1/√k (Achlioptas' database-friendly JL variant — sign matrices
    * preserve pairwise distances in expectation like Gaussians, at
    * integer-multiply cost). The standard preprocessing step before a
    * cheaper ANN index or a coarse clustering pass when 64→8 dims cuts
    * index bytes 8×.
    *
    * Scale (100 TB): narrow per-row — k fused [[graft.functions.VectorDot]]
    * kernels against k broadcast literal rows ([[planeLit]]'s one-
    * Literal-per-row rule), zero exchanges before the oracle ORDER BY.
    * Determinism: the dot is the sequential bit-compatible kernel and
    * 1/√k divides through `sqrt(8.0)` — correctly rounded in both
    * engines — so projected coordinates are double-identical.
    */
  def qEmbRproj(spark: SparkSession, sfDir: String): DataFrame = {
    val scale = sqrt(lit(rprojK.toDouble))
    val cols = (0 until rprojK).map { j =>
      val row = typedlit((0 until embDim).map(i => rprojSign(j, i).toDouble))
      (dot(col("embedding"), row) / scale).as(s"p$j")
    }
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id") +: cols: _*)
      .orderBy(col("vec_id"))
  }

  val qEmbRprojSql: String = {
    val arms = (0 until rprojK).map { j =>
      val row = (0 until embDim).map(i => s"${rprojSign(j, i)}.0").mkString("[", ", ", "]")
      s"list_dot_product(CAST(embedding AS DOUBLE[]), $row) / sqrt($rprojK.0) AS p$j"
    }
    s"""SELECT vec_id, ${arms.mkString(",\n  ")}
       |FROM embeddings
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Per-label separation audit (embedding-space health check)
  // ------------------------------------------------------------------

  /** Embedding-space health per label: mean squared distance of members
    * to their OWN centroid (intra-class spread) vs the squared distance
    * to the NEAREST OTHER centroid (inter-class margin), and the
    * silhouette-style separation score (inter − intra)/max(inter, intra)
    * — the per-checkpoint diagnostic that catches collapsed or entangled
    * classes before [[qEmbRetrievalEval]]'s retrieval metrics degrade.
    *
    * Determinism: member distances use the expanded form v·v − 2 v·c +
    * c·c with the sequential [[dot]] kernel (bit-identical cross-engine);
    * the intra mean fixes float summation order by casting each distance
    * to DECIMAL before the order-free exact sum (one double division at
    * the end). Centroid pair distances are a k² computation on a
    * |labels|-row frame.
    *
    * Scale: ONE narrow pass over the corpus against the 1-row broadcast
    * centroid table (the [[centroidArrayDf]] quantizer — no N×k fan-out),
    * one label-keyed partial aggregate; everything after is
    * |labels|-sized.
    */
  def qEmbLabelSeparation(spark: SparkSession, sfDir: String): DataFrame = {
    val centArr = centroidArrayDf(spark, sfDir, None)
    val own = Tables.embeddings(spark, sfDir)
      .crossJoin(broadcast(centArr))
      .select(col("label"),
        element_at(filter(col("cents"),
          c => c.getField("c_label") === col("label")), 1).as("own"),
        col("embedding"))
      .select(col("label"),
        sqDist(dot(col("embedding"), col("embedding")), col("embedding"),
          col("own.cv"), col("own.cc")).as("d2"))
    val intra = own.groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("d2").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .cast("double") / count(lit(1)))
          .as("intra_msd"))
    val cents = centArr.select(explode(col("cents")).as("c"))
      .select(col("c.c_label").as("lbl"), col("c.cv").as("cv"), col("c.cc").as("cc"))
    val inter = cents.as("x").crossJoin(cents.as("y"))
      .filter(col("x.lbl") =!= col("y.lbl"))
      .select(col("x.lbl").as("label"),
        sqDist(col("x.cc"), col("x.cv"), col("y.cv"), col("y.cc")).as("d2c"))
      .groupBy(col("label")).agg(min(col("d2c")).as("inter_min_d2"))
    intra.join(inter, "label")
      .select(col("label"), col("n_members"), col("intra_msd"), col("inter_min_d2"),
        ((col("inter_min_d2") - col("intra_msd"))
          / greatest(col("inter_min_d2"), col("intra_msd"))).as("sep_score"))
      .orderBy(col("label"))
  }

  val qEmbLabelSeparationSql: String =
    s"""WITH $centroidsLongSql,
       |cvl AS (SELECT label, list(c ORDER BY i) AS cv FROM cl GROUP BY label),
       |own AS (
       |  SELECT e.label,
       |    ${sqDistSql("list_dot_product(e.v, e.v)", "e.v", "cvl.cv", "list_dot_product(cvl.cv, cvl.cv)")} AS d2
       |  FROM e JOIN cvl USING (label)
       |),
       |intra AS (
       |  SELECT label, count(*) AS n_members,
       |    CAST(sum(CAST(d2 AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS intra_msd
       |  FROM own GROUP BY label
       |),
       |inter AS (
       |  SELECT x.label AS label,
       |    min(${sqDistSql("list_dot_product(x.cv, x.cv)", "x.cv", "y.cv", "list_dot_product(y.cv, y.cv)")}) AS inter_min_d2
       |  FROM cvl x JOIN cvl y ON x.label <> y.label
       |  GROUP BY x.label
       |)
       |SELECT label, n_members, intra_msd, inter_min_d2,
       |  (inter_min_d2 - intra_msd) / greatest(inter_min_d2, intra_msd) AS sep_score
       |FROM intra JOIN inter USING (label)
       |ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // Retrieval evaluation (recall@k / MRR@k against label relevance)
  // ------------------------------------------------------------------

  /** Queries for the retrieval-eval harness: every 10th vector. */
  final val evalQueryMod = 10
  /** Eval cutoff; [[mrrLcm]] = lcm(1..evalK) makes per-query reciprocal
    * ranks EXACT integers (2520/rank), so the MRR numerator sums in
    * integer arithmetic — order-free — and only the final division
    * touches floating point (one correctly-rounded op, bit-identical
    * cross-engine). A double `sum(1.0/rank)` would depend on partition
    * merge order.
    */
  final val evalK = 10
  final val mrrLcm = 2520L

  /** The retrieval-eval split: every [[evalQueryMod]]-th vector is a query
    * `(q_id, q_label, qe, q_norm)`, the rest the corpus
    * `(vec_id, label, ce, c_norm)`, both with raw float embeddings and
    * their [[norm]]s. DuckDB twin: [[evalSidesSql]].
    */
  private def evalSides(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") % evalQueryMod === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qe"))
      .withColumn("q_norm", norm(col("qe")))
    val c = emb.filter(col("vec_id") % evalQueryMod =!= 0)
      .select(col("vec_id"), col("label"), col("embedding").as("ce"))
      .withColumn("c_norm", norm(col("ce")))
    (q, c)
  }

  /** [[evalSides]] in DuckDB SQL: the CTEs `q` and `c`. */
  private def evalSidesSql: String =
    s"""q AS (
       |  SELECT vec_id AS q_id, label AS q_label, CAST(embedding AS DOUBLE[]) AS qe,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS q_norm
       |  FROM embeddings WHERE vec_id % $evalQueryMod = 0
       |),
       |c AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS c_norm
       |  FROM embeddings WHERE vec_id % $evalQueryMod <> 0
       |)""".stripMargin

  /** Offline retrieval-quality evaluation of the embedding space: treat
    * every [[evalQueryMod]]-th vector as a query, SAME LABEL as the
    * relevance judgment, rank the corpus by exact cosine, and report
    * per-label recall@k (share of queries with ≥1 relevant hit in the
    * top k) and MRR@k — the eval loop every retrieval/embedding training
    * pipeline runs per checkpoint.
    *
    * Scale: scoring is the [[qEmbCosineTopk]] broadcast-queries scan (Q
    * small by construction — eval sets are curated samples); the rank
    * window partitions by query; everything after the top-k filter is
    * |queries|-row arithmetic. For corpus-scale query sets, swap the
    * scorer for the LSH/IVF probe — the metric arithmetic composes
    * unchanged (recall is then measured AGAINST this exact baseline).
    */
  def qEmbRetrievalEval(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = evalSides(spark, sfDir)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val hits = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= evalK)
      .groupBy(col("q_id"), col("q_label"))
      .agg(min(when(col("label") === col("q_label"), col("rank"))).as("first_rel"))
    hits.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("first_rel").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(coalesce(expr(s"$mrrLcm div first_rel"), lit(0L))).as("mrr_num"))
      .select(col("label"), col("n_queries"),
        (col("n_hit").cast("double") / col("n_queries")).as(s"recall_at_$evalK"),
        (col("mrr_num").cast("double") / (lit(mrrLcm) * col("n_queries")))
          .as(s"mrr_at_$evalK"))
      .orderBy(col("label"))
  }

  val qEmbRetrievalEvalSql: String =
    s"""WITH $evalSidesSql,
       |ranked AS (
       |  SELECT q_id, q_label, label,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${cosineSql("qe", "q_norm", "ce", "c_norm")} DESC, vec_id) AS rank
       |  FROM c, q WHERE q_id <> vec_id
       |),
       |hits AS (
       |  SELECT q_id, q_label,
       |    min(CASE WHEN label = q_label THEN rank END) AS first_rel
       |  FROM ranked WHERE rank <= $evalK
       |  GROUP BY q_id, q_label
       |)
       |SELECT q_label AS label, count(*) AS n_queries,
       |  CAST(sum(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS recall_at_$evalK,
       |  CAST(CAST(sum(COALESCE($mrrLcm // first_rel, 0)) AS BIGINT) AS DOUBLE)
       |    / ($mrrLcm * count(*)) AS mrr_at_$evalK
       |FROM hits GROUP BY q_label ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // k-NN classification eval (leave-one-out majority vote)
  // ------------------------------------------------------------------

  /** Votes per query for [[qEmbKnnClassify]] (odd would avoid exact ties;
    * 5 keeps ties possible on a 4+-label corpus, so the deterministic
    * tie-break below is load-bearing and exercised).
    */
  final val knnK = 5

  /** Leave-one-out k-NN CLASSIFICATION accuracy of the embedding space:
    * every [[evalQueryMod]]-th vector is a held-out query, its [[knnK]]
    * nearest corpus neighbors by exact cosine vote on its label, and the
    * majority label (ties broken by smaller label id — deterministic) is
    * scored against the truth. Reported per true label: query count,
    * correct count, accuracy, and mean votes the winning label received.
    * This is the standard intrinsic-quality probe for an embedding model
    * (kNN-probe accuracy), complementing [[qEmbRetrievalEval]]'s
    * ranking-quality view with a decision-quality one.
    *
    * Scale: scoring reuses the broadcast-queries × corpus scan of
    * [[qEmbRetrievalEval]] (queries are a curated sample by
    * construction); the top-k window partitions by query; the vote /
    * argmax windows run over ≤[[knnK]] rows per query — bounded frames,
    * never the corpus. For corpus-scale query sets swap the scorer for
    * the IVF probe; the vote arithmetic composes unchanged.
    */
  private def knnPreds(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = evalSides(spark, sfDir)
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val votes = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= knnK)
      .groupBy(col("q_id"), col("q_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("label"))
    votes.withColumn("vrank", row_number().over(wVote))
      .filter(col("vrank") === 1)
      .select(col("q_id"), col("q_label"), col("label").as("pred"),
        col("n_votes"))
  }

  /** The q/c/ranked/votes/preds CTE chain shared by the kNN-probe oracle
    * SQLs ([[qEmbKnnClassifySql]], [[qEmbKnnConfusionSql]]) — the SQL
    * mirror of [[knnPreds]].
    */
  private val knnPredsSqlCte: String =
    s"""$evalSidesSql,
       |ranked AS (
       |  SELECT q_id, q_label, label,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${cosineSql("qe", "q_norm", "ce", "c_norm")} DESC, vec_id) AS rank
       |  FROM c, q WHERE q_id <> vec_id
       |),
       |votes AS (
       |  SELECT q_id, q_label, label, count(*) AS n_votes
       |  FROM ranked WHERE rank <= $knnK
       |  GROUP BY q_id, q_label, label
       |),
       |preds AS (
       |  SELECT q_id, q_label, label AS pred, n_votes
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |          ORDER BY n_votes DESC, label) AS vrank FROM votes)
       |  WHERE vrank = 1
       |)""".stripMargin

  def qEmbKnnClassify(spark: SparkSession, sfDir: String): DataFrame =
    knnPreds(spark, sfDir).groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred") === col("q_label"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(col("n_votes")).as("win_votes"))
      .select(col("label"), col("n_queries"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_queries").cast("double"))
          .as("accuracy"),
        (col("win_votes").cast("double") / col("n_queries").cast("double"))
          .as("mean_win_votes"))
      .orderBy(col("label"))

  val qEmbKnnClassifySql: String =
    s"""WITH $knnPredsSqlCte
       |SELECT q_label AS label, count(*) AS n_queries,
       |  CAST(sum(CASE WHEN pred = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN pred = q_label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS accuracy,
       |  CAST(CAST(sum(n_votes) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS mean_win_votes
       |FROM preds GROUP BY q_label ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // k-NN confusion matrix (which labels the space conflates)
  // ------------------------------------------------------------------

  /** CONFUSION MATRIX of the leave-one-out kNN probe — the per-PAIR view
    * behind [[qEmbKnnClassify]]'s per-label accuracy: which true label is
    * mistaken for which predicted label, how often, and what share of
    * each side's total that cell is (recall share of the true label's
    * row, precision share of the predicted label's column). The matrix is
    * what you read to decide whether two labels should be MERGED (dense
    * symmetric off-diagonal block = the embedding space cannot separate
    * them) vs whether the model just needs more data for one label —
    * per-label accuracy alone can't distinguish those.
    *
    * Only realized (true, pred) cells are emitted — at mixture-width
    * label counts the dense zero cells are noise, and absence IS the
    * signal the sparse form carries.
    *
    * Scale: the prediction pipeline is [[knnPreds]] (see
    * [[qEmbKnnClassify]] scale notes); everything after it aggregates
    * |queries| rows to ≤|labels|² cells with two broadcast joins of
    * |labels|-row margin frames. Output is labels²-bounded.
    */
  def qEmbKnnConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val preds = knnPreds(spark, sfDir)
    val cells = preds.groupBy(col("q_label").as("true_label"),
        col("pred").as("pred_label"))
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy(col("true_label"))
      .agg(sum(col("n")).as("row_total"))
    val colTot = cells.groupBy(col("pred_label"))
      .agg(sum(col("n")).as("col_total"))
    cells.join(broadcast(rowTot), "true_label")
      .join(broadcast(colTot), "pred_label")
      .select(col("true_label"), col("pred_label"), col("n"),
        col("row_total"), col("col_total"),
        (col("n").cast("double") / col("row_total").cast("double"))
          .as("recall_share"),
        (col("n").cast("double") / col("col_total").cast("double"))
          .as("precision_share"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  val qEmbKnnConfusionSql: String =
    s"""WITH $knnPredsSqlCte,
       |cells AS (
       |  SELECT q_label AS true_label, pred AS pred_label, count(*) AS n
       |  FROM preds GROUP BY q_label, pred
       |),
       |row_tot AS (
       |  SELECT true_label, CAST(sum(n) AS BIGINT) AS row_total
       |  FROM cells GROUP BY true_label
       |),
       |col_tot AS (
       |  SELECT pred_label, CAST(sum(n) AS BIGINT) AS col_total
       |  FROM cells GROUP BY pred_label
       |)
       |SELECT true_label, pred_label, n, row_total, col_total,
       |  CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE) AS recall_share,
       |  CAST(n AS DOUBLE) / CAST(col_total AS DOUBLE) AS precision_share
       |FROM cells JOIN row_tot USING (true_label) JOIN col_tot USING (pred_label)
       |ORDER BY true_label, pred_label""".stripMargin

  // ------------------------------------------------------------------
  // Quantized second-moment (gram) matrix — the PCA/whitening input
  // ------------------------------------------------------------------

  /** Fixed-point scale for [[qEmbGram]]: embeddings land in [-1, 1], so
    * 3 decimal digits keep the per-coordinate quantization error ≤ 5e-4
    * while the largest |pair product| stays ≤ 1e6 — corpus sums overflow
    * BIGINT only past ~9e12 vectors.
    */
  final val gramScale = 1000L

  /** The SECOND-MOMENT (gram) MATRIX of the embedding corpus — the d×d
    * sufficient statistic every linear-algebra downstream starts from
    * (PCA, whitening, low-rank projection for [[qEmbRproj]]-style
    * compression, anisotropy diagnostics): upper-triangle entries
    * Σ qᵢ·qⱼ over FIXED-POINT coordinates (floor(x·[[gramScale]])), plus
    * per-dimension sums, so mean-centering to a covariance is one
    * closed-form step the query also emits. Quantizing first makes every
    * accumulation EXACT BIGINT arithmetic — the float-sum-order trap that
    * makes naive gram matrices engine- and partitioning-dependent is
    * structurally gone (the repo-wide micro-unit rule applied to linear
    * algebra).
    *
    * Scale (100 TB): the expansion is a NARROW per-row transform — each
    * vector emits its own d(d+1)/2 products via nested array transforms
    * inside codegen, no join, no corpus shuffle — and the only exchange
    * is the final groupBy over d² cells, which partial-aggregates
    * map-side to ≤2 080 rows per task (d=64). This is the map-reduce
    * gram-matrix pattern (one pass, mergeable partials) that at 100 TB
    * runs embarrassingly parallel; the driver never sees more than the
    * d×d result. Output is d²-bounded, corpus-size-independent.
    */
  /** Upper-triangle quantized second-moment cells (di ≤ dj, n, Σqᵢqⱼ) and
    * per-dimension sums — the shared sufficient statistic of [[qEmbGram]]
    * and [[qEmbPowerIter]].
    */
  private def gramCells(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    // spread on vec_id: the O(d²) expansion is ~2080 cell rows per vector
    val emb = Exec.spread(Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")), col("vec_id"))
      .select(col("vec_id"),
        expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $gramScale) AS BIGINT))")
          .as("q"))
    val cells = emb
      .select(explode(expr(
        """flatten(transform(sequence(0, size(q) - 1),
          |  i -> transform(sequence(i, size(q) - 1),
          |    j -> struct(i AS di, j AS dj, q[i] * q[j] AS p))))""".stripMargin))
        .as("c"))
      .select(col("c.di"), col("c.dj"), col("c.p"))
      .groupBy(col("di"), col("dj"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("s_ij"))
    // MATERIALIZED (r15): dims is d rows and feeds two broadcast
    // attachments in qEmbGram — sibling broadcasts cannot share the
    // subtree, so the per-dimension aggregate over the corpus ran twice.
    val dims = emb.select(posexplode(col("q")).as(Seq("d", "qv")))
      .groupBy(col("d")).agg(sum(col("qv")).as("s_d"))
      .localCheckpoint(true)
    (cells, dims)
  }

  /** Shared oracle CTEs producing the same `cells` / `dims` relations.
    * MATERIALIZED: DuckDB inlines CTEs by default, and the power-iteration
    * oracle references these through a 5-deep CTE chain — un-materialized,
    * the O(n·d²) self-join would re-expand once per reference.
    */
  private lazy val gramCellsSqlCtes: String =
    s"""q AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * $gramScale) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |flat AS MATERIALIZED (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS d, q[i] AS qv
       |  FROM q, UNNEST(range(1, len(q) + 1)) AS r(i)
       |),
       |cells AS MATERIALIZED (
       |  SELECT a.d AS di, b.d AS dj, count(*) AS n,
       |    CAST(sum(a.qv * b.qv) AS BIGINT) AS s_ij
       |  FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.d <= b.d
       |  GROUP BY a.d, b.d
       |),
       |dims AS MATERIALIZED (
       |  SELECT d, CAST(sum(qv) AS BIGINT) AS s_d FROM flat GROUP BY d
       |)""".stripMargin

  def qEmbGram(spark: SparkSession, sfDir: String): DataFrame = {
    val (cells, dims) = gramCells(spark, sfDir)
    cells
      .join(broadcast(dims.select(col("d").as("di"), col("s_d").as("s_i"))), "di")
      .join(broadcast(dims.select(col("d").as("dj"), col("s_d").as("s_j"))), "dj")
      .select(col("di"), col("dj"), col("n"), col("s_ij"), col("s_i"), col("s_j"),
        ((col("s_ij").cast("double") / col("n").cast("double") -
          (col("s_i").cast("double") / col("n").cast("double")) *
            (col("s_j").cast("double") / col("n").cast("double")))
          / (gramScale.toDouble * gramScale.toDouble)).as("cov"))
      .orderBy(col("di"), col("dj"))
  }

  val qEmbGramSql: String =
    s"""WITH $gramCellsSqlCtes
       |SELECT di, dj, n, s_ij, si.s_d AS s_i, sj.s_d AS s_j,
       |  (CAST(s_ij AS DOUBLE) / n
       |    - (CAST(si.s_d AS DOUBLE) / n) * (CAST(sj.s_d AS DOUBLE) / n))
       |    / (${gramScale}.0 * ${gramScale}.0) AS cov
       |FROM cells
       |JOIN dims si ON si.d = di
       |JOIN dims sj ON sj.d = dj
       |ORDER BY di, dj""".stripMargin

  // ------------------------------------------------------------------
  // Greedy k-center: farthest-point prototype / coreset selection
  // ------------------------------------------------------------------

  /** Number of prototypes the greedy k-center pass selects (the seed
    * plus kcenterM−1 farthest-point rounds).
    */
  final val kcenterM = 5

  /** Greedy k-center (farthest-point) PROTOTYPE SELECTION — the
    * 2-approximate coreset cover (Gonzalez 1985) data-curation uses to
    * pick maximally-diverse exemplars: where [[qEmbKmeansIter]] finds
    * density centers and [[qEmbMmr]] diversifies a retrieval pool,
    * k-center covers the SPACE — each new prototype is the point
    * farthest from everything chosen so far, and the final coverage
    * radius (max distance of any point to its nearest prototype, last
    * output row) is the certificate: every vector lies within √r² of a
    * prototype. Deterministic seed = vec 0; ties break to the smaller
    * vec_id.
    *
    * Exactness: squared distances in quantized integer coordinates
    * ([[gramScale]] fixed point) — Σ(qᵢ−cᵢ)² is exact BIGINT under any
    * partitioning (bounded by d·(2·scale·‖x‖∞)² ≈ 2.6·10⁸ — int64-safe
    * at ANY corpus size since it never multiplies by n), so argmax
    * selection is engine- and order-exact at every round.
    *
    * Scale (100 TB): per round ONE corpus scan — a broadcast 1-row
    * join updating the running min-distance plus a TakeOrdered(1)
    * argmax (per-partition heaps); rounds are a plan constant m, and
    * per-round `localCheckpoint` truncates lineage (the
    * [[qEmbPowerIter]] loop discipline). No windows, no pairwise work:
    * m·N distance evaluations total, the textbook bound.
    */
  def qEmbKcenter(spark: SparkSession, sfDir: String): DataFrame = {
    val d2 = expr(
      "aggregate(zip_with(q, cq, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $gramScale) AS BIGINT))")
          .as("q"))
    val seed = corpus.filter(col("vec_id") === 0)
    var state = corpus
      .crossJoin(broadcast(seed.select(col("q").as("cq"))))
      .select(col("vec_id"), col("q"), d2.as("d"))
      .localCheckpoint(true)
    val picks = scala.collection.mutable.ArrayBuffer[DataFrame](
      seed.select(lit(0).as("sel_order"), col("vec_id"), lit(0L).as("d2_at_pick")))
    for (k <- 1 until kcenterM) {
      val next = state.orderBy(col("d").desc, col("vec_id")).limit(1)
        .localCheckpoint(true)
      picks += next.select(lit(k).as("sel_order"), col("vec_id"),
        col("d").as("d2_at_pick"))
      state = state
        .crossJoin(broadcast(next.select(col("q").as("cq"))))
        .select(col("vec_id"), col("q"), least(col("d"), d2).as("d"))
        .localCheckpoint(true)
    }
    val radius = state.agg(max(col("d")).as("d2_at_pick"))
      .select(lit(kcenterM).as("sel_order"), lit(-1L).as("vec_id"),
        col("d2_at_pick"))
    picks.reduce(_ unionAll _).unionAll(radius).orderBy(col("sel_order"))
  }

  val qEmbKcenterSql: String = {
    val dist =
      "CAST(list_sum(list_transform(range(1, len(q) + 1), i -> (q[i] - cq[i]) * (q[i] - cq[i]))) AS BIGINT)"
    def round(k: Int): String =
      s"""c$k AS (SELECT vec_id, q, d FROM d${k - 1} ORDER BY d DESC, vec_id LIMIT 1),
         |d$k AS (
         |  SELECT a.vec_id, a.q, least(a.d, $dist) AS d
         |  FROM d${k - 1} a CROSS JOIN (SELECT q AS cq FROM c$k) c
         |)""".stripMargin
    val pickRows = (1 until kcenterM)
      .map(k => s"SELECT $k AS sel_order, vec_id, d AS d2_at_pick FROM c$k")
      .mkString("\nUNION ALL\n")
    s"""WITH corpus AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * $gramScale) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |d0 AS (
       |  SELECT a.vec_id, a.q, $dist AS d
       |  FROM corpus a CROSS JOIN (SELECT q AS cq FROM corpus WHERE vec_id = 0) s
       |),
       |${(1 until kcenterM).map(round).mkString(",\n")}
       |SELECT 0 AS sel_order, CAST(0 AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS d2_at_pick
       |UNION ALL
       |$pickRows
       |UNION ALL
       |SELECT $kcenterM, -1, max(d) FROM d${kcenterM - 1}
       |ORDER BY sel_order""".stripMargin
  }

  // ------------------------------------------------------------------
  // Anisotropy audit: does the embedding cloud live in a narrow cone?
  // ------------------------------------------------------------------

  /** Anisotropy audit of the embedding corpus — the diagnostic behind
    * the "always mean-center before cosine" rule (Ethayarajh 2019:
    * contextual embeddings concentrate in a narrow cone, inflating all
    * cosines; an anisotropic corpus makes raw-cosine thresholds like
    * [[nearDupThreshold]] meaningless). Reports, from EXACT integer
    * statistics:
    *
    *   - `avg_pair_dot`: mean dot product over all ordered pairs i≠j —
    *     the cone signal (isotropic ⇒ ≈ 0), computed WITHOUT pairwise
    *     work as (Σ_d S_d² − trace) / (n(n−1)) where S_d are per-dim
    *     sums and trace = Σᵢ‖xᵢ‖²;
    *   - `mean_sq_norm`: trace / n, the normalizer;
    *   - `anisotropy`: their ratio — the fraction of vector energy
    *     aligned with the common direction (0 isotropic, →1 cone);
    *   - `mean_norm_share`: ‖x̄‖² / mean ‖x‖² = n·‖x̄‖²-vs-energy form
    *     = Σ_d S_d² / (n·trace), the centering-gain readout.
    *
    * Exactness: reuses [[gramCells]]'s fixed-point quantization — S_d,
    * Σ_d S_d² and the trace are exact BIGINTs under any partitioning;
    * the three ratios are single double divisions of identical integers
    * in both engines (the quantization bias is shared by numerator and
    * denominator and cancels to first order).
    *
    * Scale (100 TB): needs only the DIAGONAL cells and the per-dim sums
    * — one narrow per-row transform + a d-cell partial agg (NOT the
    * full d² gram); output is one row, corpus-size-independent.
    */
  def qEmbAnisotropy(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $gramScale) AS BIGINT))")
          .as("q"))
    val flat = emb.select(posexplode(col("q")).as(Seq("d", "qv")))
    val dims = flat.groupBy(col("d"))
      .agg(sum(col("qv")).as("s_d"), sum(col("qv") * col("qv")).as("s_dd"))
    val stats = dims.agg(
      sum(col("s_d") * col("s_d")).as("ssq"),
      sum(col("s_dd")).as("trace"))
    val n = emb.agg(count(lit(1)).as("n_vecs"))
    stats.crossJoin(broadcast(n))
      .select(col("n_vecs"), col("trace"), col("ssq"),
        ((col("ssq") - col("trace")).cast("double") /
          (col("n_vecs") * (col("n_vecs") - 1)).cast("double") /
          (gramScale.toDouble * gramScale.toDouble)).as("avg_pair_dot"),
        (col("trace").cast("double") / col("n_vecs").cast("double") /
          (gramScale.toDouble * gramScale.toDouble)).as("mean_sq_norm"),
        ((col("ssq") - col("trace")).cast("double") /
          ((col("n_vecs") - 1) * col("trace")).cast("double")).as("anisotropy"),
        (col("ssq").cast("double") /
          (col("n_vecs") * col("trace")).cast("double")).as("mean_norm_share"))
  }

  val qEmbAnisotropySql: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * $gramScale) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |flat AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS d, q[i] AS qv
       |  FROM q, UNNEST(range(1, len(q) + 1)) AS r(i)
       |),
       |dims AS (
       |  SELECT d, CAST(sum(qv) AS BIGINT) AS s_d,
       |    CAST(sum(qv * qv) AS BIGINT) AS s_dd
       |  FROM flat GROUP BY d
       |),
       |stats AS (
       |  SELECT CAST(sum(s_d * s_d) AS BIGINT) AS ssq,
       |    CAST(sum(s_dd) AS BIGINT) AS trace
       |  FROM dims
       |),
       |nv AS (SELECT count(*) AS n_vecs FROM q)
       |SELECT n_vecs, trace, ssq,
       |  CAST(ssq - trace AS DOUBLE) / CAST(n_vecs * (n_vecs - 1) AS DOUBLE) /
       |    (${gramScale}.0 * ${gramScale}.0) AS avg_pair_dot,
       |  CAST(trace AS DOUBLE) / CAST(n_vecs AS DOUBLE) /
       |    (${gramScale}.0 * ${gramScale}.0) AS mean_sq_norm,
       |  CAST(ssq - trace AS DOUBLE) /
       |    CAST((n_vecs - 1) * trace AS DOUBLE) AS anisotropy,
       |  CAST(ssq AS DOUBLE) / CAST(n_vecs * trace AS DOUBLE) AS mean_norm_share
       |FROM stats CROSS JOIN nv""".stripMargin

  // ------------------------------------------------------------------
  // Power iteration: top principal direction in exact integer arithmetic
  // ------------------------------------------------------------------

  /** Iterations and fixed-point scales for [[qEmbPowerIter]]. Five
    * iterations separate the top eigenvalue decisively on this spectrum;
    * the matrix and vector rescales keep every matvec product inside
    * int64 at any corpus size (|m| ≤ matScale, |v| ≤ vecScale →
    * |Σ m·v| ≤ d·matScale·vecScale = 64·10⁶·10³ « 2⁶³).
    */
  final val powerIters = 5
  final val powerMatScale = 1000000L
  final val powerVecScale = 1000L

  /** TOP PRINCIPAL DIRECTION of the embedding covariance by POWER
    * ITERATION carried out ENTIRELY in fixed-point integer arithmetic —
    * distributed linear algebra with bit-identical results in any
    * engine, any partitioning, any summation order. The integer
    * covariance numerator M = n·Σqᵢqⱼ − ΣqᵢΣqⱼ is rescaled once to
    * |m| ≤ [[powerMatScale]] (integer division by the broadcast max);
    * each iteration is a matvec over the d² cell table (exact BIGINT
    * products) followed by an integer renormalization to
    * |v| ≤ [[powerVecScale]]. The float-accumulation order-dependence
    * that makes naive distributed PCA engine-specific never appears.
    * Output: the converged direction (sign-fixed: v[0] ≥ 0) plus the
    * quantized Rayleigh quotient — the "how much variance does the top
    * axis hold" number that decides [[qEmbRproj]]-style compression.
    *
    * Scale (100 TB): the corpus is touched ONCE (the [[gramCells]]
    * pass — one narrow expansion + d²-cell partial agg); the d²-cell
    * numerator (≤ d(d+1)/2 rows — MODEL STATE, the MMR/k-means
    * constant-size-collect precedent) is then collected and all
    * [[powerIters]] iterations fold driver-side in exact Long
    * arithmetic. Integer sums are order-independent and both engines'
    * integral division truncates toward zero (verified: DuckDB `//`
    * and Spark `div` agree on negatives), so the fold is bit-identical
    * to the unrolled-CTE oracle — which remains the cross-check. This
    * replaces the r8 shape (5 distributed matvec rounds ×
    * localCheckpoint) whose ~6 s scheduler-round floor was pure fixed
    * overhead. More components = deflate and repeat.
    *
    * Validity bound of the driver fold: the collect is d(d+1)/2 rows
    * (d = 64 → 2 080) — genuinely model state while that stays small;
    * past d ≈ 2k (≈ 2M cells) switch back to the r8 distributed-matvec
    * shape, whose per-round cost is then dwarfed by the cell volume.
    *
    * Degenerate inputs mirror the SQL oracle exactly: an empty
    * embeddings table yields an EMPTY frame (every CTE is empty), and
    * an all-zero rescaled matrix — where the oracle's `(w*scale) //
    * max(abs(w))` divides by zero → NULL, which then propagates
    * through every later iteration — yields d rows with NULL v /
    * NULL rayleigh rather than throwing.
    */
  def qEmbPowerIter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (cells, dims) = gramCells(spark, sfDir)
    // upper-triangular integer covariance numerator M = n·s_ij − s_i·s_j
    val upper = cells
      .join(broadcast(dims.select(col("d").as("di"), col("s_d").as("s_i"))), "di")
      .join(broadcast(dims.select(col("d").as("dj"), col("s_d").as("s_j"))), "dj")
      .select(col("di"), col("dj"),
        (col("n") * col("s_ij") - col("s_i") * col("s_j")).as("m0"))
    // the ONE action of the query: d²-bounded model state
    val up = upper.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    if (up.isEmpty)
      return Seq.empty[(Int, Option[Long], Option[Double])]
        .toDF("d", "v", "rayleigh_scaled")
    val fullM = up ++ up.collect { case (i, j, m) if i != j => (j, i, m) }
    // rescale by DIVIDING (m0 / ceil-ish(mm/scale)), never multiplying:
    // m0·scale would overflow int64 past ~10⁴ vectors
    val mm = fullM.iterator.map(t => math.abs(t._3)).max
    val divisor = math.max(1L, mm / powerMatScale)
    val mat = fullM.map { case (i, j, m0) => (i, j, m0 / divisor) }
    val byRow = mat.groupBy(_._1)
    val ds = byRow.keys.toArray.sorted
    var v: Map[Int, Long] = ds.map(d => d -> powerVecScale).toMap
    var degenerate = false
    for (_ <- 1 to powerIters if !degenerate) {
      val w = byRow.map { case (d, rows) =>
        d -> rows.iterator.map { case (_, j, m) => m * v(j) }.sum
      }
      val mw = w.valuesIterator.map(math.abs).max
      if (mw == 0L) degenerate = true // oracle: x//0 = NULL, propagates
      else v = w.map { case (d, x) => d -> (x * powerVecScale) / mw }
    }
    val out: Seq[(Int, Option[Long], Option[Double])] =
      if (degenerate) ds.toSeq.map(d => (d, None, None))
      else {
        // sign fix: flip so the first coordinate is non-negative
        val sgn = if (v(0) < 0) -1L else 1L
        val vf = v.map { case (d, x) => d -> x * sgn }
        val vmv = mat.iterator.map { case (i, j, m) => m * vf(i) * vf(j) }.sum
        val vv = vf.valuesIterator.map(x => x * x).sum
        val ray = vmv.toDouble / vv.toDouble / powerMatScale
        ds.toSeq.map(d => (d, Some(vf(d)), Some(ray)))
      }
    out.toDF("d", "v", "rayleigh_scaled").orderBy(col("d"))
  }

  val qEmbPowerIterSql: String = {
    val iters = (1 to powerIters).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS (
         |  SELECT di AS d, CAST(sum(m * v) AS BIGINT) AS w
         |  FROM mat JOIN $prev ON $prev.d = mat.dj
         |  GROUP BY di
         |),
         |v$k AS (
         |  SELECT d, (w * $powerVecScale) // (SELECT max(abs(w)) FROM w$k) AS v
         |  FROM w$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $gramCellsSqlCtes,
       |upper_m AS (
       |  SELECT di, dj, n * s_ij - si.s_d * sj.s_d AS m0
       |  FROM cells
       |  JOIN dims si ON si.d = di
       |  JOIN dims sj ON sj.d = dj
       |),
       |full_m AS (
       |  SELECT di, dj, m0 FROM upper_m
       |  UNION ALL
       |  SELECT dj AS di, di AS dj, m0 FROM upper_m WHERE di <> dj
       |),
       |mat AS MATERIALIZED (
       |  SELECT di, dj,
       |    m0 // greatest(1, (SELECT max(abs(m0)) FROM full_m) // $powerMatScale)
       |      AS m
       |  FROM full_m
       |),
       |v0 AS (SELECT DISTINCT di AS d, $powerVecScale AS v FROM mat),
       |$iters,
       |sgn AS (
       |  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn
       |  FROM v$powerIters WHERE d = 0
       |),
       |vf AS (SELECT d, CAST(v * sgn AS BIGINT) AS v FROM v$powerIters CROSS JOIN sgn),
       |ray AS (
       |  SELECT CAST(sum(m * vi.v * vj.v) AS BIGINT) AS vmv
       |  FROM mat
       |  JOIN vf vi ON vi.d = mat.di
       |  JOIN vf vj ON vj.d = mat.dj
       |),
       |den AS (SELECT CAST(sum(v * v) AS BIGINT) AS vv FROM vf)
       |SELECT d, v,
       |  CAST(vmv AS DOUBLE) / CAST(vv AS DOUBLE) / $powerMatScale
       |    AS rayleigh_scaled
       |FROM vf CROSS JOIN ray CROSS JOIN den
       |ORDER BY d""".stripMargin
  }

  // ------------------------------------------------------------------
  // Variance energy spectrum: how many dimensions carry the signal
  // ------------------------------------------------------------------

  /** PER-DIMENSION VARIANCE ENERGY SPECTRUM of the embedding space —
    * the compression decision table next to [[qEmbPowerIter]]'s top
    * direction and [[qEmbMatryoshka]]'s prefix-truncation audit:
    * dimensions ranked by variance (exact integer numerators
    * n·Σq²−(Σq)² from the [[gramCells]] diagonal), each with its energy
    * share and the RUNNING CUMULATIVE share. Read off "k dims hold 90%"
    * directly — the number that sizes an [[qEmbRproj]] target dimension
    * or a PQ codebook budget honestly instead of by convention.
    *
    * Scale (100 TB): corpus touched once via the shared gram pass; the
    * ranking window runs over exactly d rows. Output d rows.
    */
  def qEmbEnergySpectrum(spark: SparkSession, sfDir: String): DataFrame = {
    // Diagonal-only sufficient statistic: one posexplode pass computes
    // (n, Σq_i², Σq_i) per dimension at O(n·d), not gramCells' O(n·d²).
    // Spread on vec_id as in gramCells.
    val diag = Exec.spread(Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")), col("vec_id"))
      .select(expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $gramScale) AS BIGINT))")
        .as("q"))
      .select(posexplode(col("q")).as(Seq("d", "qv")))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"), sum(col("qv") * col("qv")).as("s_ii"),
        sum(col("qv")).as("s_d"))
      .select(col("d"),
        (col("n") * col("s_ii") - col("s_d") * col("s_d")).as("var_num"))
    val tot = diag.agg(sum(col("var_num")).as("tv"))
    val wRank = Window.orderBy(col("var_num").desc, col("d"))
    val wCum = Window.orderBy(col("var_num").desc, col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    diag.crossJoin(broadcast(tot))
      .select(col("d"), col("var_num"),
        row_number().over(wRank).as("rank"),
        (col("var_num").cast("double") / col("tv").cast("double"))
          .as("energy_share"),
        (sum(col("var_num")).over(wCum).cast("double") / col("tv").cast("double"))
          .as("cum_energy"))
      .orderBy(col("rank"))
  }

  val qEmbEnergySpectrumSql: String =
    s"""WITH $gramCellsSqlCtes,
       |diag AS (
       |  SELECT di AS d, n * s_ij - s_d * s_d AS var_num
       |  FROM cells JOIN dims ON dims.d = cells.di
       |  WHERE di = dj
       |),
       |tot AS (SELECT CAST(sum(var_num) AS BIGINT) AS tv FROM diag)
       |SELECT d, var_num,
       |  CAST(row_number() OVER (ORDER BY var_num DESC, d) AS INTEGER) AS rank,
       |  CAST(var_num AS DOUBLE) / CAST(tv AS DOUBLE) AS energy_share,
       |  CAST(sum(var_num) OVER (ORDER BY var_num DESC, d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(tv AS DOUBLE) AS cum_energy
       |FROM diag CROSS JOIN tot
       |ORDER BY rank""".stripMargin

  // ------------------------------------------------------------------
  // Distinct-cardinality audit: exact two-phase counts (oracle-checked)
  // plus an HLL-sketch sanity flag. The raw HLL estimate is
  // engine-specific so it cannot be a checked column; instead the query
  // emits whether the sketch landed within a generous 3-sigma band of
  // the exact count (rsd 0.05 → ±15%), which IS deterministic: at these
  // cardinalities HLL++ runs in sparse (exact) mode, and any engine
  // whose sketch misses by >15% is broken. The precise sketch-vs-exact
  // relative-error bound is asserted in NewOpsSpec ("HLL sketch lands
  // within tolerance of the exact distinct counts").
  // ------------------------------------------------------------------

  /** Scale (100 TB): the exact arm is a two-phase distinct — a narrow
    * projection, a partial-dedup shuffle on the value, then a count —
    * the same shape Spark plans for `count(DISTINCT x)` via Expand;
    * the sketch arm is a single mergeable HLL partial agg, no second
    * shuffle. Both scopes scan only their one column (pruned scan).
    */
  def qApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    def scope(df: DataFrame, column: String, label: String): DataFrame = {
      val exact = df.select(col(column)).distinct()
        .agg(count(lit(1)).as("exact_nd"))
      val approx = df.agg(approx_count_distinct(col(column), 0.05).as("approx_nd"))
      exact.crossJoin(approx) // two 1-row frames
        .select(
          lit(label).as("scope"),
          col("exact_nd"),
          (abs(col("approx_nd") - col("exact_nd")).cast("double") <=
            col("exact_nd").cast("double") * 0.15).as("approx_ok"))
    }
    scope(Tables.documents(spark, sfDir), "source", "documents.source")
      .unionAll(scope(Tables.embeddings(spark, sfDir), "label", "embeddings.label"))
      .orderBy(col("scope"))
  }

  val qApproxDistinctSql: String =
    """SELECT 'documents.source' AS scope,
      |  count(DISTINCT source) AS exact_nd, TRUE AS approx_ok FROM documents
      |UNION ALL
      |SELECT 'embeddings.label' AS scope,
      |  count(DISTINCT label) AS exact_nd, TRUE AS approx_ok FROM embeddings
      |ORDER BY scope""".stripMargin

  // ------------------------------------------------------------------
  // Per-dimension corpus statistics: the feature-normalization pass
  // ------------------------------------------------------------------

  /** Per-DIMENSION corpus statistics over the embedding column — the
    * stats a feature-normalization / whitening step (and any index
    * trainer deciding rotation or OPQ) computes first: for each of the
    * 64 dimensions, count, mean, population std, min and max.
    *
    * Determinism vs scale trade-off, solved differently from
    * [[qEmbLabelCentroids]]: the centroid op gets bit-exact double sums
    * from a SORTED per-group fold (`collect_list` + sequential
    * `aggregate`), which buffers the whole group — fine at k×64 groups,
    * wrong for 64 corpus-wide groups. Here values are QUANTIZED to
    * integer micro-units (`floor(x·10⁶)` — exact double ops + floor,
    * identical in every engine) so mean/std come from plain BIGINT
    * `sum(y)`/`sum(y·y)` — map-side-combinable partial aggregation, the
    * shape that survives a 10⁹-vector corpus (overflow headroom: |y| ≤
    * 10⁶ ⇒ Σy² fits int64 to ~9×10⁶ vectors/dim at |x| ≤ 1; widen the
    * accumulator to DECIMAL(38,0) past that). min/max are order-free on
    * the raw doubles — exact with no trick. The 10⁻⁶ quantization is the
    * documented price of cross-engine hash equality; a production run
    * drops it and accepts float-tolerance comparison.
    *
    * Scale (100 TB): ONE posexplode (×64 narrow fan-out) + ONE partial
    * agg shuffle of 64 groups. No lists, no windows, no second pass.
    */
  def qEmbDimStats(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select((col("pos0") + 1).as("i"), col("x").cast("double").as("xd"))
      .select(col("i"), col("xd"),
        floor(col("xd") * 1000000d).cast("long").as("y"))
    val m = q.groupBy(col("i")).agg(
      count(lit(1)).as("n"),
      sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"),
      min(col("xd")).as("min_x"), max(col("xd")).as("max_x"))
    val nD = col("n").cast("double")
    val syD = col("sy").cast("double"); val syyD = col("syy").cast("double")
    m.select(col("i").cast("int").as("i"), col("n"),
        (syD / nD).as("mean_micro"),
        sqrt((syyD - syD * syD / nD) / nD).as("std_micro"),
        col("min_x"), col("max_x"))
      .orderBy(col("i"))
  }

  val qEmbDimStatsSql: String =
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pos AS (SELECT unnest(generate_series(1, 64)) AS i),
      |q AS (
      |  SELECT i, v[i] AS xd, CAST(floor(v[i] * 1000000) AS BIGINT) AS y
      |  FROM e, pos
      |),
      |m AS (
      |  SELECT i, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy,
      |    min(xd) AS min_x, max(xd) AS max_x
      |  FROM q GROUP BY i
      |)
      |SELECT CAST(i AS INTEGER) AS i, n,
      |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_micro,
      |  sqrt((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |       / CAST(n AS DOUBLE)) AS std_micro,
      |  min_x, max_x
      |FROM m ORDER BY i""".stripMargin

  // ------------------------------------------------------------------
  // Matryoshka truncation audit: recall of prefix-dimension retrieval
  // ------------------------------------------------------------------

  /** Prefix widths the truncation audit measures against the full-width
    * exact top-k. Seq, not a literal — consume via local code only (the
    * object-init-cycle rule, .claude/skills/verify).
    */
  final val matryoshkaDims: Seq[Int] = Seq(8, 16, 32)

  /** Matryoshka-truncation retrieval audit: recall@[[topK]] when cosine
    * runs on only the FIRST d dimensions of each embedding, for each d
    * in [[matryoshkaDims]], against the full-width exact top-k — the
    * measurement behind MRL-style two-stage retrieval (rank cheaply on a
    * prefix, re-rank survivors at full width) and the table that decides
    * how narrow the first stage can go. Same query/candidate split and
    * (cosine DESC, vec_id) tiebreak as every other arm, so differences
    * are pure truncation loss.
    *
    * Scale (100 TB): the payoff being measured is bandwidth — a d=8
    * prefix scan reads 1/8th of the vector bytes (with vectors stored
    * dim-major/chunked, the scan prunes to the prefix columns), and the
    * full-width exact arm runs once regardless of how many widths the
    * sweep compares. Per-width stats are 1-row broadcast aggregates;
    * the exact arm persists once (owner: this query).
    */
  def qEmbMatryoshka(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Exec.share(qEmbCosineTopk(spark, sfDir)
      .select(col("q_id"), col("vec_id")))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val rows = matryoshkaDims.map { d =>
      val q = emb.filter(col("vec_id") < nQueryVecs)
        .select(col("vec_id").as("q_id"), slice(col("embedding"), 1, d).as("qe"))
        .withColumn("q_norm", norm(col("qe")))
      val c = emb.filter(col("vec_id") >= nQueryVecs)
        .select(col("vec_id"), slice(col("embedding"), 1, d).as("ce"))
        .withColumn("c_norm", norm(col("ce")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      val trunc = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("q_id"), col("vec_id"))
      val ov = exact.join(trunc, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("n_overlap"))
      nExact.crossJoin(broadcast(ov))
        .select(lit(d).as("dim"), col("n_exact"), col("n_overlap"),
          (col("n_overlap").cast("double") / col("n_exact").cast("double"))
            .as("recall_at_k"))
    }
    rows.reduce(_.unionAll(_)).orderBy(col("dim"))
  }

  val qEmbMatryoshkaSql: String = {
    def truncCte(d: Int): String =
      s"""t$d AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
         |    FROM (
         |      SELECT q_id, vec_id,
         |        ${cosineSql("qe", normSql("qe"), "ce", normSql("ce"))} AS cosine
         |      FROM (SELECT vec_id AS q_id, (CAST(embedding AS DOUBLE[]))[1:$d] AS qe
         |            FROM embeddings WHERE vec_id < $nQueryVecs) q,
         |           (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:$d] AS ce
         |            FROM embeddings WHERE vec_id >= $nQueryVecs) c
         |    )
         |  ) WHERE rank <= $topK
         |)""".stripMargin
    def armRow(d: Int): String =
      s"""SELECT $d AS dim,
         |  (SELECT count(*) FROM ex) AS n_exact,
         |  (SELECT count(*) FROM ex JOIN t$d USING (q_id, vec_id)) AS n_overlap,
         |  CAST((SELECT count(*) FROM ex JOIN t$d USING (q_id, vec_id)) AS DOUBLE) /
         |    CAST((SELECT count(*) FROM ex) AS DOUBLE) AS recall_at_k""".stripMargin
    s"""WITH ex AS (SELECT q_id, vec_id FROM ($qEmbCosineTopkSql)),
       |${matryoshkaDims.map(truncCte).mkString(",\n")}
       |${matryoshkaDims.map(armRow).mkString("\nUNION ALL\n")}
       |ORDER BY dim""".stripMargin
  }

  // ------------------------------------------------------------------
  // nDCG@k: rank-discounted retrieval quality
  // ------------------------------------------------------------------

  /** Fixed-point scale for the nDCG discount table. The per-rank
    * discounts floor(SCALE/log2(1+r)) for r = 1..[[evalK]] are computed
    * ONCE builder-side and interpolated as integer literals into BOTH
    * engines' plans — libm never runs inside either engine, so the
    * whole metric is exact integer arithmetic until one final division.
    */
  final val ndcgScale = 1000000L

  /** Integer discount table w(r) = floor(SCALE / log2(1+r)), 1-indexed. */
  private lazy val ndcgW: Seq[Long] =
    (1 to evalK).map(r => (ndcgScale / (math.log(1.0 + r) / math.log(2.0))).toLong)

  /** Cumulative ideal-DCG table: idcg(m) = Σ_{r≤m} w(r), 1-indexed. */
  private lazy val ndcgIdeal: Seq[Long] = ndcgW.scanLeft(0L)(_ + _).tail

  /** nDCG@[[evalK]] per label — the rank-DISCOUNTED retrieval metric
    * completing [[qEmbRetrievalEval]]'s recall/MRR panel: recall says
    * whether anything relevant surfaced, MRR where the FIRST hit was,
    * nDCG how the WHOLE top-k is ordered (a hit at rank 2 vs rank 9
    * moves nDCG, not recall). Binary relevance = label match; the ideal
    * normalizer uses min(k, R) with R the query's total relevant
    * candidates, so partially-satisfiable queries aren't penalized for
    * fewer than k relevants existing.
    *
    * Exactness: DCG accumulates the integer discount literals (order-
    * free BIGINT sums); R is label-grain (candidate labels are query-
    * independent here) and indexes the literal cumulative-ideal table;
    * per-label mean nDCG divides two exact integers once — queries of
    * one label share an idcg, so Σ dcg/(n·idcg) IS the mean.
    *
    * Scale (100 TB): identical shape to [[qEmbRetrievalEval]] —
    * broadcast-query scoring scan, per-query rank window bounded by
    * |queries| partitions, label-grain arithmetic after the top-k cut.
    */
  def qEmbNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = evalSides(spark, sfDir)
    // R per label: total relevant candidates (label-grain, query-independent)
    val relTab = c.groupBy(col("label").as("q_label")).agg(count(lit(1)).as("n_rel"))
    val wExpr = (1 to evalK).foldRight(lit(0L): Column) { (r, other) =>
      when(col("rank") === r, lit(ndcgW(r - 1))).otherwise(other)
    }
    val idealArr = array(ndcgIdeal.map(lit): _*)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val perQuery = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= evalK)
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("label") === col("q_label"), wExpr).otherwise(0L))
        .as("dcg_num"))
    perQuery.join(broadcast(relTab), "q_label")
      .select(col("q_label"), col("dcg_num"),
        element_at(idealArr, greatest(lit(1L), least(col("n_rel"), lit(evalK.toLong))).cast("int"))
          .as("idcg_num"), col("n_rel"))
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"), max(col("n_rel")).as("n_rel"),
        sum(col("dcg_num")).as("sum_dcg"), max(col("idcg_num")).as("idcg"))
      .select(col("label"), col("n_queries"), col("n_rel"),
        (col("sum_dcg").cast("double") /
          (col("n_queries") * col("idcg")).cast("double")).as(s"ndcg_at_$evalK"))
      .orderBy(col("label"))
  }

  val qEmbNdcgSql: String = {
    val wCase = (1 to evalK)
      .map(r => s"WHEN rank = $r THEN ${ndcgW(r - 1)}").mkString(" ")
    val idealList = ndcgIdeal.mkString("[", ", ", "]")
    s"""WITH $evalSidesSql,
       |rel AS (SELECT label AS q_label, count(*) AS n_rel FROM c GROUP BY label),
       |ranked AS (
       |  SELECT q_id, q_label, label,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${cosineSql("qe", "q_norm", "ce", "c_norm")} DESC, vec_id)
       |      AS INTEGER) AS rank
       |  FROM c, q WHERE q_id <> vec_id
       |),
       |per_query AS (
       |  SELECT q_id, q_label,
       |    CAST(sum(CASE WHEN label = q_label THEN
       |      CASE $wCase ELSE 0 END ELSE 0 END) AS BIGINT) AS dcg_num
       |  FROM ranked WHERE rank <= $evalK
       |  GROUP BY q_id, q_label
       |)
       |SELECT q_label AS label, count(*) AS n_queries,
       |  CAST(max(n_rel) AS BIGINT) AS n_rel,
       |  CAST(sum(dcg_num) AS DOUBLE) /
       |    CAST(count(*) * max(($idealList)[greatest(1, least(n_rel, $evalK))]) AS DOUBLE)
       |    AS ndcg_at_$evalK
       |FROM per_query JOIN rel USING (q_label)
       |GROUP BY q_label
       |ORDER BY label""".stripMargin
  }

  // ------------------------------------------------------------------
  // Semantic decontamination: embedding-cosine eval-set screen
  // ------------------------------------------------------------------

  /** Contamination flag threshold — cosine ≥ this against ANY eval
    * vector marks a training vector contaminated. Literal RHS `final`
    * per the repo's init-cycle rule (it is interpolated into oracle
    * SQL below).
    */
  final val decontamCos = 0.8

  /** SEMANTIC decontamination of a training corpus against a held-out
    * eval set — the embedding-space counterpart of
    * [[Dedup.qDocDecontam]]'s n-gram screen. N-gram decontamination
    * misses paraphrases (same content, different surface form); cosine
    * against the eval set's embeddings catches exactly those, and
    * production pipelines run BOTH screens before training. Eval set =
    * the [[nQueryVecs]] probe vectors; a train vector is contaminated
    * if its cosine to any eval vector ≥ [[decontamCos]]. Output is the
    * flagged (eval, train) pairs with their cosine — the removal list
    * plus the evidence for each removal.
    *
    * The synthetic corpus has no natural paraphrases, so the train side
    * plants the [[qEmbNearDup]] injection (every 25th vector perturbed,
    * cosine ≈ 0.88–0.91 vs its source): eval vector 0's copy is
    * guaranteed to be caught at every SF.
    *
    * Scale (100 TB): the eval set is BROADCAST (eval sets are
    * benchmark-sized — thousands, not billions); the training corpus is
    * scanned once, never shuffled, and the threshold filter collapses
    * the Q×N score stream to the (rare) contaminated pairs before
    * anything else touches it. Norms are hoisted per side (N+Q sqrts,
    * not N×Q). At extreme eval-set sizes, route the probe through the
    * [[qEmbAnnIvf]] cell index instead — the filter composes unchanged.
    */
  def qEmbDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val base = embE(spark, sfDir)
    val ev = base.filter(col("vec_id") < nQueryVecs)
      .select(col("vec_id").as("eval_id"), col("e").as("qe"))
      .withColumn("q_norm", norm(col("qe")))
    // the synthetic corpus has no natural eval paraphrases, so the train
    // side carries the [[qEmbNearDup]] injection (every 25th vector
    // perturbed, +100000 id) — vector 0 is an eval vector, so its planted
    // paraphrase (cosine ≈ 0.89) MUST be flagged at every SF
    val perturbed = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("e"), 1) + lit(0.5)),
          slice(col("e"), 2, embDim - 1)).as("e"))
    val train = base.filter(col("vec_id") >= nQueryVecs).unionAll(perturbed)
      .select(col("vec_id"), col("e").as("ce"))
      .withColumn("c_norm", norm(col("ce")))
    train.crossJoin(broadcast(ev))
      .select(col("eval_id"), col("vec_id"),
        cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
      .filter(col("cosine") >= decontamCos)
      .orderBy(col("eval_id"), col("vec_id"))
  }

  val qEmbDecontamSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |),
       |ev AS (
       |  SELECT vec_id AS eval_id, e AS qe, ${normSql("e")} AS q_norm
       |  FROM base WHERE vec_id < $nQueryVecs
       |),
       |train AS (
       |  SELECT vec_id, e AS ce, ${normSql("e")} AS c_norm
       |  FROM (
       |    SELECT vec_id, e FROM base WHERE vec_id >= $nQueryVecs
       |    UNION ALL
       |    SELECT vec_id + 100000 AS vec_id, list_concat([e[1] + 0.5], e[2:]) AS e
       |    FROM base WHERE vec_id % 25 = 0
       |  )
       |)
       |SELECT eval_id, vec_id,
       |  ${cosineSql("qe", "q_norm", "ce", "c_norm")} AS cosine
       |FROM train, ev
       |WHERE ${cosineSql("qe", "q_norm", "ce", "c_norm")} >= $decontamCos
       |ORDER BY eval_id, vec_id""".stripMargin

  // ------------------------------------------------------------------
  // Hybrid retrieval: reciprocal-rank fusion of BM25 and dense cosine
  // ------------------------------------------------------------------

  /** RRF constant (the canonical 60 from Cormack/Clarke/Büttcher 2009)
    * and pool/output sizes. Literal-RHS `final` per the init-cycle rule.
    */
  final val rrfK = 60
  final val rrfPoolN = 20
  final val rrfTopN = 10

  /** HYBRID retrieval via reciprocal-rank fusion: the lexical ranking
    * ([[TextOps.qDocBm25]]'s top-[[rrfPoolN]]) and the dense ranking
    * (cosine against probe vector 0, top-[[rrfPoolN]]) fused as
    * Σ 1/([[rrfK]]+rank) over the lists an item appears in — the
    * standard hybrid-search combiner in RAG stacks (lexical catches
    * exact terms dense misses; dense catches paraphrase lexical
    * misses; RRF needs no score calibration because it only consumes
    * RANKS). Item space: doc_id ≡ vec_id where both tables cover the
    * id (the sf alignment convention); ids ranked by only one arm
    * simply lack the other term, per standard RRF.
    *
    * Exactness: each RRF term is one double division of exact integers
    * (rank, k) and the two-term sum folds in fixed lex→dense order —
    * bit-identical cross-engine. Absent ranks are emitted as 0 (ranks
    * start at 1), keeping the output null-free.
    *
    * Scale (100 TB): both arms end in TakeOrdered top-[[rrfPoolN]]
    * (per-partition heaps — no global sort of corpus-sized frames);
    * ranking windows and the full-outer fusion join run on the two
    * POOL frames (≤ 2·[[rrfPoolN]] rows — driver-trivial by
    * construction, not by luck). The corpus-sized work is exactly the
    * two arms' own: BM25's one tf shuffle and the dense arm's
    * broadcast-probe scan.
    */
  def qHybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    def rrfTerm(r: Column): Column =
      when(r > 0, lit(1.0) / (lit(rrfK).cast("double") + r.cast("double")))
        .otherwise(lit(0.0))
    // lexical arm: BM25 pool (20 rows), ranked on the pool frame
    val wl = Window.orderBy(col("bm25").desc, col("doc_id"))
    val lex = TextOps.qDocBm25(spark, sfDir)
      .select(col("doc_id"), col("bm25"))
      .withColumn("lex_rank", row_number().over(wl).cast("long"))
      .select(col("doc_id").as("item_id"), col("lex_rank"))
    // dense arm: cosine vs probe vector 0, TakeOrdered pool, ranked on it
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
      .withColumn("q_norm", norm(col("qe")))
    val c = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding").as("ce"))
      .withColumn("c_norm", norm(col("ce")))
    val wd = Window.orderBy(col("cosine").desc, col("vec_id"))
    val dense = c.crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(rrfPoolN)
      .withColumn("dense_rank", row_number().over(wd).cast("long"))
      .select(col("vec_id").as("item_id"), col("dense_rank"))
    lex.join(dense, Seq("item_id"), "full_outer")
      .select(col("item_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
      .withColumn("rrf", rrfTerm(col("lex_rank")) + rrfTerm(col("dense_rank")))
      .orderBy(col("rrf").desc, col("item_id"))
      .limit(rrfTopN)
  }

  val qHybridRrfSql: String = {
    def rrfTerm(r: String): String =
      s"CASE WHEN $r > 0 THEN CAST(1.0 AS DOUBLE) / (CAST($rrfK AS DOUBLE) + CAST($r AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END"
    s"""WITH lexbase AS (SELECT doc_id, bm25 FROM (${TextOps.qDocBm25Sql})),
       |lex AS (
       |  SELECT doc_id AS item_id,
       |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
       |  FROM lexbase
       |),
       |q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qe,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS q_norm
       |  FROM embeddings WHERE vec_id = 0
       |),
       |c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS c_norm
       |  FROM embeddings WHERE vec_id <> 0
       |),
       |densepool AS (
       |  SELECT vec_id, ${cosineSql("qe", "q_norm", "ce", "c_norm")} AS cosine
       |  FROM c, q
       |  ORDER BY cosine DESC, vec_id LIMIT $rrfPoolN
       |),
       |dense AS (
       |  SELECT vec_id AS item_id,
       |    CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS dense_rank
       |  FROM densepool
       |),
       |fused AS (
       |  SELECT COALESCE(lex.item_id, dense.item_id) AS item_id,
       |    COALESCE(lex_rank, 0) AS lex_rank,
       |    COALESCE(dense_rank, 0) AS dense_rank
       |  FROM lex FULL OUTER JOIN dense ON lex.item_id = dense.item_id
       |)
       |SELECT item_id, lex_rank, dense_rank,
       |  ${rrfTerm("lex_rank")} + ${rrfTerm("dense_rank")} AS rrf
       |FROM fused
       |ORDER BY rrf DESC, item_id
       |LIMIT $rrfTopN""".stripMargin
  }

  // ------------------------------------------------------------------
  // Binary (sign-bit) embedding sketch with Hamming retrieval
  // ------------------------------------------------------------------

  /** BINARY EMBEDDING SKETCH — compress each 64-dim vector to its 64
    * SIGN BITS (two 32-bit BIGINT words), retrieve by Hamming distance
    * (`bit_count(xor)`), and report recall against the exact cosine
    * top-k per query. The extreme end of the compression family:
    * [[qEmbQuantize]] keeps 8 bits/dim, PQ ([[qEmbPqAdc]]) a codebook
    * index per subspace — this keeps ONE bit/dim (64 bits/vector, a
    * 16× cut vs int8), the representation that makes billion-vector
    * first-stage retrieval a register-level XOR+popcount instead of a
    * float kernel. The recall column is the honest price tag, same
    * audit discipline as [[qEmbAnnRecall]].
    *
    * Exactness: sign words are exact integer folds of float>0
    * comparisons (identical in both engines); Hamming distances are
    * pure BIGINT bit_count arithmetic; ranking ties break on vec_id;
    * recall is one division of exact counts.
    *
    * Scale (100 TB): signatures are built in one narrow pass (the
    * corpus never moves); the query side is [[nQueryVecs]] broadcast
    * rows, so scoring is map-side XOR+popcount with a per-query top-k
    * (TakeOrdered shape) — the classic binary first stage; the cosine
    * arm exists only to measure recall and runs on the same broadcast
    * join.
    */
  def qEmbBinaryHamming(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    def word(lo: Int): Column = expr(
      s"aggregate(sequence($lo, ${lo + 31}), 0L, " +
        s"(acc, i) -> acc + IF(embedding[i] > 0, shiftleft(1L, i - $lo), 0L))")
    val sig = emb.select(col("vec_id"), col("embedding"),
      word(0).as("w0"), word(32).as("w1"))
    val q = sig.filter(col("vec_id") < nQueryVecs)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("w0").as("qw0"), col("w1").as("qw1"))
      .withColumn("q_norm", norm(col("qe")))
    val c = sig.filter(col("vec_id") >= nQueryVecs)
      .select(col("vec_id"), col("embedding").as("ce"), col("w0"), col("w1"))
      .withColumn("c_norm", norm(col("ce")))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("qw0").bitwiseXOR(col("w0"))) +
          bit_count(col("qw1").bitwiseXOR(col("w1")))).cast("long").as("hamming"),
        cosine(col("qe"), col("q_norm"), col("ce"), col("c_norm")).as("cosine"))
    val hw = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val cw = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val ranked = scored
      .select(col("q_id"), col("vec_id"), col("hamming"),
        row_number().over(hw).as("h_rank"), row_number().over(cw).as("c_rank"))
    ranked.filter(col("h_rank") <= topK)
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("c_rank") <= topK, 1L).otherwise(0L)).as("n_overlap"),
        min(col("hamming")).as("best_hamming"))
      .select(col("q_id"), col("k"), col("n_overlap"), col("best_hamming"),
        (col("n_overlap").cast("double") / col("k")).as("recall_at_k"))
      .orderBy(col("q_id"))
  }

  val qEmbBinaryHammingSql: String = {
    def word(lo: Int): String =
      s"CAST(list_sum(list_transform(generate_series(1, 32), " +
        s"i -> CASE WHEN embedding[i + $lo] > 0 " +
        s"THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT)"
    s"""WITH sig AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |    ${word(0)} AS w0, ${word(32)} AS w1
       |  FROM embeddings
       |),
       |q AS (
       |  SELECT vec_id AS q_id, e AS qe, w0 AS qw0, w1 AS qw1,
       |    ${normSql("e")} AS q_norm
       |  FROM sig WHERE vec_id < $nQueryVecs
       |),
       |c AS (
       |  SELECT vec_id, e AS ce, w0, w1, ${normSql("e")} AS c_norm
       |  FROM sig WHERE vec_id >= $nQueryVecs
       |),
       |scored AS (
       |  SELECT q_id, vec_id,
       |    CAST(bit_count(xor(qw0, w0)) + bit_count(xor(qw1, w1)) AS BIGINT) AS hamming,
       |    ${cosineSql("qe", "q_norm", "ce", "c_norm")} AS cosine
       |  FROM c, q
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, hamming,
       |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS h_rank,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS c_rank
       |  FROM scored
       |)
       |SELECT q_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN c_rank <= $topK THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |  min(hamming) AS best_hamming,
       |  CAST(CAST(sum(CASE WHEN c_rank <= $topK THEN 1 ELSE 0 END) AS BIGINT)
       |    AS DOUBLE) / CAST(count(*) AS BIGINT) AS recall_at_k
       |FROM ranked WHERE h_rank <= $topK
       |GROUP BY q_id
       |ORDER BY q_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Simplified silhouette of the IVF cell assignment
  // ------------------------------------------------------------------

  /** Silhouette quantization scale (10⁻⁶): each vector's score is
    * floored to an integer BEFORE the per-cell mean, so cell means are
    * exact ratios of order-free BIGINT sums. `final` per the
    * init-cycle rule.
    */
  final val silScale = 1000000L

  /** SIMPLIFIED SILHOUETTE per IVF cell — for every vector, s = 1 −
    * d(own centroid)/d(nearest other centroid) (the centroid-based
    * silhouette, the standard O(nk) surrogate for the O(n²) pairwise
    * form), averaged per cell. The assignment-quality audit the ANN
    * family stops short of: [[qEmbAnnRecall]] measures what the index
    * RETRIEVES, this measures whether the cells are honest clusters at
    * all — cells with silhouette near 0 sit on partition boundaries
    * and are exactly where nprobe=1 recall dies, so the two reports
    * read together tell an operator whether to retrain the quantizer
    * or raise nprobe.
    *
    * Exactness: cell assignment and both distances reuse
    * [[probeCells]]' deterministic (distance, label) ordering; each
    * per-vector score is one fixed-shape double expression floored to
    * an integer at [[silScale]] immediately (both engines floor the
    * same double), so the per-cell aggregation is exact BIGINT
    * arithmetic with one closing division.
    *
    * Scale (100 TB): assignment is the narrow 1-row-broadcast fold
    * (zero corpus exchange); the rollup is one |cells|-group
    * partial-combined aggregate.
    */
  def qEmbSilhouette(spark: SparkSession, sfDir: String): DataFrame = {
    // eager: single consumer below, but derivation is a full pass
    val centArr = Exec.share(centroidArrayDf(spark, sfDir, None))
    val emb = embE(spark, sfDir)
    val pair = probeCells(emb, centArr, nprobe = 2)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cell"))).as("own"),
        max(struct(col("dist"), col("cell"))).as("other"))
      .select(col("vec_id"), col("own.cell").as("cell"),
        col("own.dist").as("a"), col("other.dist").as("b"))
    val sa = sqrt(greatest(col("a"), lit(0.0)))
    val sb = sqrt(greatest(col("b"), lit(0.0)))
    val scored = pair.select(col("cell"),
      floor(when(sb > 0, lit(1.0) - sa / sb).otherwise(lit(0.0)) * silScale)
        .cast("long").as("s_q"))
    scored.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("s_q")).as("s_sum"))
      .select(col("cell"), col("n_members"), col("s_sum"),
        (col("s_sum").cast("double") /
          (col("n_members") * silScale).cast("double")).as("mean_silhouette"))
      .orderBy(col("cell"))
  }

  val qEmbSilhouetteSql: String = {
    s"""WITH $centroidsLongSql,
       |${centListSql("cent", "cl")},
       |assigned AS (${assignSql("e", "cent")}),
       |pair AS (
       |  SELECT vec_id,
       |    max(CASE WHEN rn = 1 THEN cell END) AS cell,
       |    max(CASE WHEN rn = 1 THEN d END) AS a,
       |    max(CASE WHEN rn = 2 THEN d END) AS b
       |  FROM assigned WHERE rn <= 2 GROUP BY vec_id
       |),
       |scored AS (
       |  SELECT cell,
       |    CAST(floor((CASE WHEN sqrt(greatest(b, 0.0)) > 0
       |      THEN 1.0 - sqrt(greatest(a, 0.0)) / sqrt(greatest(b, 0.0))
       |      ELSE 0.0 END) * $silScale) AS BIGINT) AS s_q
       |  FROM pair
       |)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(s_q) AS BIGINT) AS s_sum,
       |  CAST(CAST(sum(s_q) AS BIGINT) AS DOUBLE) /
       |    CAST(count(*) * $silScale AS BIGINT) AS mean_silhouette
       |FROM scored
       |GROUP BY cell
       |ORDER BY cell""".stripMargin
  }

  // ------------------------------------------------------------------
  // Embedding norm QC
  // ------------------------------------------------------------------

  /** Norm-QC bounds and quantization (norms outside [low, high] are
    * flagged; per-vector norms floor-quantize at 10⁻⁶ before the mean
    * so aggregation is exact). `final` per the init-cycle rule.
    */
  final val normLow = 0.5
  final val normHigh = 2.0
  final val normScale = 1000000L

  /** EMBEDDING NORM QC — one row: vector count, min/max L2 norm, the
    * quantized mean norm, and counts outside the [0.5, 2] healthy band
    * (the corpus ships unit-normalized — mean norm 0.9999995 measured).
    * The first gate of every embedding ingest: near-zero norms make
    * cosine similarity numerically meaningless (they score against
    * everything), runaway norms are usually a failed normalization or
    * a corrupted batch, and EITHER silently poisons every downstream
    * op in this module — ANN, dedup, k-means, calibration. Cheap
    * enough to run on every delivery, which is the point.
    *
    * Exactness: min/max are order-free; the mean uses per-vector
    * floor-quantized BIGINT norms ([[silScale]] discipline); band
    * counts are conditional BIGINT sums.
    *
    * Scale (100 TB): one narrow pass (per-row dot + sqrt), one-row
    * aggregate with map-side partials. Nothing leaves the row but
    * three numbers.
    */
  def qEmbNormQc(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = embE(spark, sfDir)
      .select(col("vec_id"), norm(col("e")).as("norm"))
    emb.agg(
        count(lit(1)).as("n_vecs"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"),
        sum(floor(col("norm") * normScale).cast("long")).as("norm_q_sum"),
        sum(when(col("norm") < normLow, 1L).otherwise(0L)).as("n_low"),
        sum(when(col("norm") > normHigh, 1L).otherwise(0L)).as("n_high"))
      .select(col("n_vecs"), col("min_norm"), col("max_norm"),
        (col("norm_q_sum").cast("double") /
          (col("n_vecs") * normScale).cast("double")).as("mean_norm"),
        col("n_low"), col("n_high"),
        ((col("n_low") + col("n_high")).cast("double") / col("n_vecs"))
          .as("flag_rate"))
  }

  val qEmbNormQcSql: String =
    s"""WITH norms AS (
       |  SELECT vec_id,
       |    ${normSql("CAST(embedding AS DOUBLE[])")} AS norm
       |  FROM embeddings
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       |  min(norm) AS min_norm, max(norm) AS max_norm,
       |  CAST(CAST(sum(CAST(floor(norm * $normScale) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) * $normScale AS BIGINT) AS mean_norm,
       |  CAST(sum(CASE WHEN norm < $normLow THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       |  CAST(sum(CASE WHEN norm > $normHigh THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       |  CAST(CAST(sum(CASE WHEN norm < $normLow THEN 1 ELSE 0 END) AS BIGINT) +
       |    CAST(sum(CASE WHEN norm > $normHigh THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS BIGINT) AS flag_rate
       |FROM norms""".stripMargin
}
