package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Exact.{decSql, portableHash, portableHashSql, units, unitsSql}
import graft.model.Tables

/** Data-quality operators (Deequ-shaped): a generic single-pass column
  * profiler and a declarative constraint-validation pass. These are the
  * checks a production pipeline runs BEFORE publishing a batch — the
  * reference's ETL filters rows it considers bad ([[Cleanse]]) but never
  * measures what it accepted; this module closes that gap, complementing
  * [[StarSchema.transformObserved]]'s zero-extra-pass pipeline metrics
  * with standalone, any-table validation.
  *
  * Both are ordinary aggregations — Catalyst plans one scan per call —
  * and both are oracle-checked row-for-row against DuckDB.
  */
object Quality {

  // ------------------------------------------------------------------
  // Generic column profiler
  // ------------------------------------------------------------------

  /** One-pass column profile: for each requested column, row count, null
    * count, exact distinct count, and (numeric columns only) min/max as
    * DOUBLE. String min/max is deliberately NOT emitted — engines render
    * non-ASCII/date/float boundaries differently, and a profile exists to
    * be compared across runs, so every emitted cell must be
    * engine-stable.
    *
    * Mechanics: ONE `agg` computes the full metric grid (the scan is read
    * once); the per-column rows are then an `explode` over a constant
    * array of structs — no second pass, no union of per-column scans (a
    * UNION-ALL formulation scans the table once PER COLUMN — at 100 TB
    * with 26 columns that is 25 extra full-table reads).
    *
    * Scale: exact `countDistinct` over c columns plans one Expand (c+1
    * row multiplication) feeding partial aggregates — the exact grid in
    * one shuffle. At extreme width/cardinality swap
    * `approx_count_distinct` in for the distinct column (single pass, no
    * Expand, ±2% HLL error) — kept exact here because the profile is
    * oracle-compared cell-for-cell.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val numeric = df.schema.fields
      .filter(f => Set("long", "integer", "double", "float", "decimal")
        .exists(f.dataType.typeName.startsWith))
      .map(_.name).toSet
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"__rows_$c"),
        count(col(c)).as(s"__nonnull_$c"),
        countDistinct(col(c)).as(s"__distinct_$c"),
        (if (numeric(c)) min(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"__min_$c"),
        (if (numeric(c)) max(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"__max_$c"))
    }
    val grid = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.map { c =>
      struct(
        lit(c).as("column_name"),
        col(s"__rows_$c").as("n_rows"),
        (col(s"__rows_$c") - col(s"__nonnull_$c")).as("n_nulls"),
        col(s"__distinct_$c").as("n_distinct"),
        col(s"__min_$c").as("min_num"),
        col(s"__max_$c").as("max_num"))
    }: _*)
    grid.select(explode(rows).as("p"))
      .select(col("p.*"))
      .orderBy(col("column_name"))
  }

  /** Profile of the `orders` table (driver-facing entry). */
  def qProfileOrders(spark: SparkSession, sfDir: String): DataFrame =
    profile(Tables.orders(spark, sfDir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))

  val qProfileOrdersSql: String = {
    def arm(c: String, numeric: Boolean): String = {
      val mn = if (numeric) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      val mx = if (numeric) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct, $mn AS min_num, $mx AS max_num
         |FROM orders""".stripMargin
    }
    Seq(
      arm("o_orderkey", numeric = true), arm("o_custkey", numeric = true),
      arm("o_orderstatus", numeric = false), arm("o_totalprice", numeric = true),
      arm("o_orderpriority", numeric = false))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ------------------------------------------------------------------
  // Declarative constraint validation
  // ------------------------------------------------------------------

  /** Constraint-validation pass over `orders` (+ referential integrity
    * against `customer`): one row per check with the measured violation
    * metric and its pass verdict — the gate a batch must clear before
    * [[Publish]] ships it. Checks:
    *
    *   - `orderkey_unique`: primary-key uniqueness (dup rows = 0)
    *   - `custkey_complete`: FK column has no NULLs
    *   - `status_domain`: o_orderstatus within its declared domain
    *   - `totalprice_nonneg`: no negative money
    *   - `customer_ri`: every o_custkey resolves in `customer`
    *     (left-anti count = 0)
    *
    * Scale: the four column checks are ONE aggregation over one scan
    * (conditional counts — no per-check passes). RI is the one join: a
    * left-anti against the customer keyset, shuffle-keyed on custkey.
    * The final assembly unions five 1-row frames — driver-trivial.
    */
  def qCheckOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val grid = o.agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("nd"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_ck"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("bad_status"),
      sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("neg_price"))
    val riViolations = o.join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("m"))
    def check(name: String, metric: Column): Column =
      struct(lit(name).as("check_name"), metric.cast("long").as("violations"),
        (metric === 0).as("passed"))
    grid.select(explode(array(
        check("orderkey_unique", col("n") - col("nd")),
        check("custkey_complete", col("null_ck")),
        check("status_domain", col("bad_status")),
        check("totalprice_nonneg", col("neg_price")))).as("c"))
      .select(col("c.*"))
      .unionAll(riViolations.select(lit("customer_ri").as("check_name"),
        col("m").cast("long").as("violations"), (col("m") === 0).as("passed")))
      .orderBy(col("check_name"))
  }

  val qCheckOrdersSql: String =
    """WITH grid AS (
      |  SELECT count(*) AS n, count(DISTINCT o_orderkey) AS nd,
      |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_ck,
      |    sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS bad_status,
      |    sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS neg_price
      |  FROM orders
      |),
      |ri AS (
      |  SELECT count(*) AS m FROM orders
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      |)
      |SELECT check_name, CAST(violations AS BIGINT) AS violations, violations = 0 AS passed
      |FROM (
      |  SELECT 'orderkey_unique' AS check_name, n - nd AS violations FROM grid
      |  UNION ALL SELECT 'custkey_complete', null_ck FROM grid
      |  UNION ALL SELECT 'status_domain', bad_status FROM grid
      |  UNION ALL SELECT 'totalprice_nonneg', neg_price FROM grid
      |  UNION ALL SELECT 'customer_ri', m FROM ri)
      |ORDER BY check_name""".stripMargin

  // ------------------------------------------------------------------
  // Privacy: k-anonymity audit over a generalization ladder
  // ------------------------------------------------------------------

  /** k-anonymity risk audit of the customer table under the
    * quasi-identifier (mktsegment, nationkey, acctbal-in-thousands) at
    * every prefix generalization level — the pre-release check a
    * training-data pipeline runs before shipping user-adjacent records
    * (complementing [[graft.ext.TextOps.qDocRedact]]'s content-side PII
    * scrub with a row-side re-identification bound). A row is at risk if
    * its QI group has fewer than k=5 members; suppressing the last QI
    * column (then the next, …) trades utility for anonymity, and this
    * query measures that whole ladder in ONE pass:
    *
    * `rollup(seg, nat, bal_bucket)` emits every prefix level tagged by
    * `grouping_id` (0 = full QI … 7 = fully suppressed); a second, tiny
    * aggregation folds each level's group sizes into (groups, min group
    * size, rows below k, risk share). The risk share divides two exact
    * longs — one correctly-rounded double, bit-equal cross-engine.
    *
    * Scale: the rollup is a constant ×4 Expand feeding ONE partial
    * aggregate (map-side combined — the shuffle carries group rows, not
    * input rows); the fold input is |groups| rows. No per-level rescans:
    * the naive "one GROUP BY per level" formulation reads the table L
    * times.
    */
  def qKAnonCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 5
    val groups = Tables.customer(spark, sfDir)
      .withColumn("bal_bucket", floor(col("c_acctbal") / 1000))
      .rollup(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("sz"))
    groups.groupBy(col("gid").cast("int").as("generalization_level"))
      .agg(count(lit(1)).as("n_groups"),
        min(col("sz")).as("min_group_size"),
        sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("rows_below_k"),
        sum(col("sz")).as("n_rows"))
      .select(col("generalization_level"), col("n_groups"), col("min_group_size"),
        col("rows_below_k"),
        (col("rows_below_k").cast("double") / col("n_rows")).as("risk_share"))
      .orderBy(col("generalization_level"))
  }

  val qKAnonCustomerSql: String =
    """WITH g AS (
      |  SELECT GROUPING(c_mktsegment, c_nationkey, bal_bucket) AS gid, count(*) AS sz
      |  FROM (SELECT c_mktsegment, c_nationkey, floor(c_acctbal / 1000) AS bal_bucket
      |        FROM customer)
      |  GROUP BY ROLLUP (c_mktsegment, c_nationkey, bal_bucket)
      |)
      |SELECT CAST(gid AS INTEGER) AS generalization_level,
      |  count(*) AS n_groups,
      |  min(sz) AS min_group_size,
      |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_below_k,
      |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE) / sum(sz) AS risk_share
      |FROM g
      |GROUP BY gid
      |ORDER BY generalization_level""".stripMargin

  // ------------------------------------------------------------------
  // Distribution drift between two time slices
  // ------------------------------------------------------------------

  /** Value-distribution drift monitor: equal-width histogram (10 bins of
    * 50) of `events.value` in the baseline half of the month vs the
    * current half, with per-bin counts, shares, and the bin's
    * total-variation contribution — the "did this week's data shift under
    * me" check a continuously-ingesting training pipeline runs per batch.
    * Share deltas are computed INTEGER-exact before the one final double
    * division: |cA·tB − cB·tA| / (tA·tB) is the exact |shareA − shareB|
    * with no intermediate float rounding, so the compare is bit-stable
    * cross-engine (and the total TVD is just half the sum of the output
    * column — asserted in QualitySpec).
    *
    * Scale: two conditional partial aggregates over ONE scan (the split
    * predicate is a pushed-down column compare, not a second read); the
    * histogram shuffle carries ≤ |bins| rows per map task. Bin width and
    * count are plan constants — at 100 TB widen bins, never the plan.
    */
  def qEventDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val boundary = lit("2024-01-16").cast("timestamp")
    val binned = Tables.events(spark, sfDir)
      .select(least(lit(9), floor(col("value") / 50)).cast("int").as("bin"),
        when(col("ts") < boundary, 1L).otherwise(0L).as("is_base"))
    binned.groupBy(col("bin"))
      .agg(sum(col("is_base")).as("base_cnt"),
        sum(lit(1L) - col("is_base")).as("cur_cnt"))
      .select(col("bin"), col("base_cnt"), col("cur_cnt"),
        sum(col("base_cnt")).over(Window.partitionBy()).as("t_base"),
        sum(col("cur_cnt")).over(Window.partitionBy()).as("t_cur"))
      .select(col("bin"), col("base_cnt"), col("cur_cnt"),
        (col("base_cnt").cast("double") / col("t_base")).as("base_share"),
        (col("cur_cnt").cast("double") / col("t_cur")).as("cur_share"),
        (abs(col("base_cnt") * col("t_cur") - col("cur_cnt") * col("t_base"))
          .cast("double") / (col("t_base") * col("t_cur"))).as("abs_share_delta"))
      .orderBy(col("bin"))
  }

  val qEventDriftSql: String =
    """WITH h AS (
      |  SELECT CAST(least(9, floor(value / 50)) AS INTEGER) AS bin,
      |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS base_cnt,
      |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS cur_cnt
      |  FROM events GROUP BY bin
      |),
      |t AS (SELECT sum(base_cnt) AS t_base, sum(cur_cnt) AS t_cur FROM h)
      |SELECT bin, CAST(base_cnt AS BIGINT) AS base_cnt, CAST(cur_cnt AS BIGINT) AS cur_cnt,
      |  CAST(base_cnt AS DOUBLE) / t_base AS base_share,
      |  CAST(cur_cnt AS DOUBLE) / t_cur AS cur_share,
      |  CAST(abs(base_cnt * t_cur - cur_cnt * t_base) AS DOUBLE) / (t_base * t_cur)
      |    AS abs_share_delta
      |FROM h CROSS JOIN t
      |ORDER BY bin""".stripMargin

  // ------------------------------------------------------------------
  // Privacy: consistent pseudonymization preserving referential integrity
  // ------------------------------------------------------------------

  /** Salt for the pseudonymization demo — versioned so a salt rotation
    * is an explicit, joint re-keying of every table (the operational
    * contract of deterministic pseudonyms).
    */
  val pseudoSalt = "graft_pseudo_v1"

  /** Keyed pseudonymization that PRESERVES referential integrity: the
    * same salted deterministic hash ([[graft.Exact.portableHash]])
    * replaces the customer key in BOTH `customer` and `orders`, so the
    * released tables still join — the de-identification pattern for
    * sharing user-adjacent relational data without raw ids (row-side
    * companion to [[graft.ext.TextOps.qDocRedact]]'s content scrub and
    * [[qKAnonCustomer]]'s QI audit). The query PROVES the property in
    * its output: per-nation order counts through the pseudonymous join
    * equal the true-key join, row for row.
    *
    * Scale: masking is a narrow projection on each side (the hash is
    * md5-based, codegen'd, no UDF); the two joins are the same
    * key-shuffle the true join always was — pseudonymization adds zero
    * exchanges. Collision risk of the 60-bit hash is Birthday-bounded
    * (~10⁻⁹ at 10⁶ keys) and deterministic across engines.
    */
  def qPseudonymizeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def mask(c: Column): Column =
      portableHash(concat_ws("", lit(pseudoSalt), c.cast("string")))
    val cust = Tables.customer(spark, sfDir)
      .select(mask(col("c_custkey")).as("pk"), col("c_nationkey"))
    val ords = Tables.orders(spark, sfDir).select(mask(col("o_custkey")).as("pk"))
    val viaPseudo = ords.join(cust, "pk")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("orders_via_pseudo"))
    val viaTrue = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("orders_via_true"))
    viaPseudo.join(viaTrue, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        coalesce(col("orders_via_pseudo"), lit(0L)).as("orders_via_pseudo"),
        coalesce(col("orders_via_true"), lit(0L)).as("orders_via_true"),
        (coalesce(col("orders_via_pseudo"), lit(0L)) ===
          coalesce(col("orders_via_true"), lit(0L))).as("ri_intact"))
      .orderBy(col("c_nationkey"))
  }

  val qPseudonymizeJoinSql: String = {
    val mc = portableHashSql(s"'$pseudoSalt' || CAST(c_custkey AS VARCHAR)")
    val mo = portableHashSql(s"'$pseudoSalt' || CAST(o_custkey AS VARCHAR)")
    s"""WITH cust AS (SELECT $mc AS pk, c_nationkey FROM customer),
       |ords AS (SELECT $mo AS pk FROM orders),
       |via_pseudo AS (
       |  SELECT c_nationkey, count(*) AS orders_via_pseudo
       |  FROM ords JOIN cust USING (pk) GROUP BY c_nationkey
       |),
       |via_true AS (
       |  SELECT c_nationkey, count(*) AS orders_via_true
       |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey
       |)
       |SELECT c_nationkey,
       |  COALESCE(orders_via_pseudo, 0) AS orders_via_pseudo,
       |  COALESCE(orders_via_true, 0) AS orders_via_true,
       |  COALESCE(orders_via_pseudo, 0) = COALESCE(orders_via_true, 0) AS ri_intact
       |FROM via_pseudo FULL OUTER JOIN via_true USING (c_nationkey)
       |ORDER BY c_nationkey""".stripMargin
  }

  // ------------------------------------------------------------------
  // l-diversity: attribute-disclosure risk k-anonymity misses
  // ------------------------------------------------------------------

  /** l-diversity audit over the [[qKAnonCustomer]] equivalence classes at
    * the finest generalization — quasi-identifiers (c_nationkey,
    * bal_bucket), sensitive attribute c_mktsegment. A class can satisfy
    * k-anonymity (size ≥ k) while every member shares ONE sensitive value:
    * re-identification is prevented but the attribute still leaks
    * (homogeneity attack). The report histograms classes by their
    * DISTINCT-sensitive-value count: a class with diversity < l is an
    * l-diversity violation; `row_share` weights the exposure by
    * population.
    *
    * Scale: one (qi)-keyed aggregate (count + count-distinct over a
    * 5-value attribute — map-side combinable), then a diversity-keyed
    * re-aggregate whose output is bounded by |mktsegment| = 5 rows; the
    * population total rides a 1-row broadcast cross.
    */
  def qLDivCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val classes = Tables.customer(spark, sfDir)
      .withColumn("bal_bucket", floor(col("c_acctbal") / 1000))
      .groupBy(col("c_nationkey"), col("bal_bucket"))
      .agg(count(lit(1)).as("sz"),
        countDistinct(col("c_mktsegment")).as("diversity"))
    val total = classes.agg(sum(col("sz")).as("n_total"))
    classes.groupBy(col("diversity"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("sz")).as("min_class_size"),
        sum(col("sz")).as("n_rows"))
      .crossJoin(broadcast(total))
      .select(col("diversity"), col("n_classes"), col("min_class_size"),
        col("n_rows"),
        (col("n_rows").cast("double") / col("n_total").cast("double"))
          .as("row_share"))
      .orderBy(col("diversity"))
  }

  val qLDivCustomerSql: String =
    """WITH classes AS (
      |  SELECT c_nationkey, floor(c_acctbal / 1000) AS bal_bucket,
      |    count(*) AS sz, count(DISTINCT c_mktsegment) AS diversity
      |  FROM customer
      |  GROUP BY c_nationkey, floor(c_acctbal / 1000)
      |),
      |total AS (SELECT CAST(sum(sz) AS BIGINT) AS n_total FROM classes)
      |SELECT diversity, count(*) AS n_classes, min(sz) AS min_class_size,
      |  CAST(sum(sz) AS BIGINT) AS n_rows,
      |  CAST(sum(sz) AS DOUBLE) / CAST(n_total AS DOUBLE) AS row_share
      |FROM classes CROSS JOIN total
      |GROUP BY diversity, n_total
      |ORDER BY diversity""".stripMargin

  // ------------------------------------------------------------------
  // t-closeness: distribution-disclosure risk l-diversity misses
  // ------------------------------------------------------------------

  /** t threshold as an exact rational: tvd ≤ tCloseNum/tCloseDen. */
  final val tCloseNum = 1L
  final val tCloseDen = 5L

  /** t-closeness audit completing the [[qKAnonCustomer]] →
    * [[qLDivCustomer]] privacy ladder: a class can be k-anonymous AND
    * l-diverse while its sensitive-value DISTRIBUTION still differs
    * sharply from the population's (skewness attack — "this nation's
    * customers are 80% AUTOMOBILE" leaks even with all 5 segments
    * present). Per QI class (c_nationkey), the total-variation distance
    * between the class's c_mktsegment distribution and the global one
    * — the EMD specialization for an unordered sensitive attribute —
    * with the t ≤ [[tCloseNum]]/[[tCloseDen]] verdict decided in EXACT
    * integer arithmetic: tvd = Σ|cnt·N − tot·n_g| / (2·n_g·N), so the
    * comparison multiplies through by the denominators instead of
    * trusting a double.
    *
    * Scale: one (qi, sensitive)-keyed count (map-side combined), a
    * |QI|×|sensitive| grid completion via a broadcast cross of the two
    * value dictionaries (absent combinations must still contribute
    * |0 − q_i|), then a qi-keyed re-aggregate — output bounded by |QI|.
    */
  def qTCloseCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val cnt = cust.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
    val ng = cust.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_g"))
    val tot = cust.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("tot"))
    val nAll = cust.agg(count(lit(1)).as("n_all"))
    val grid = ng.crossJoin(broadcast(tot.select(col("c_mktsegment"), col("tot"))))
      .join(cnt, Seq("c_nationkey", "c_mktsegment"), "left")
      .crossJoin(broadcast(nAll))
      .select(col("c_nationkey"), col("n_g"), col("n_all"),
        abs(coalesce(col("cnt"), lit(0L)) * col("n_all") -
          col("tot") * col("n_g")).as("num"))
    grid.groupBy(col("c_nationkey"))
      .agg(max(col("n_g")).as("n"), max(col("n_all")).as("n_all"),
        sum(col("num")).as("tvd_num"))
      .select(col("c_nationkey"), col("n"),
        (col("tvd_num").cast("double") /
          (lit(2.0) * col("n").cast("double") * col("n_all").cast("double"))).as("tvd"),
        (col("tvd_num") * tCloseDen <= col("n") * col("n_all") * (2L * tCloseNum))
          .as("t_ok"))
      .orderBy(col("c_nationkey"))
  }

  val qTCloseCustomerSql: String =
    s"""WITH cnt AS (
       |  SELECT c_nationkey, c_mktsegment, count(*) AS cnt
       |  FROM customer GROUP BY c_nationkey, c_mktsegment
       |),
       |ng AS (SELECT c_nationkey, count(*) AS n_g FROM customer GROUP BY c_nationkey),
       |tot AS (SELECT c_mktsegment, count(*) AS tot FROM customer GROUP BY c_mktsegment),
       |na AS (SELECT count(*) AS n_all FROM customer),
       |grid AS (
       |  SELECT ng.c_nationkey, ng.n_g, na.n_all,
       |    abs(COALESCE(cnt.cnt, 0) * na.n_all - tot.tot * ng.n_g) AS num
       |  FROM ng CROSS JOIN tot CROSS JOIN na
       |  LEFT JOIN cnt ON cnt.c_nationkey = ng.c_nationkey
       |    AND cnt.c_mktsegment = tot.c_mktsegment
       |)
       |SELECT c_nationkey, CAST(max(n_g) AS BIGINT) AS n,
       |  CAST(CAST(sum(num) AS BIGINT) AS DOUBLE) /
       |    (CAST(2.0 AS DOUBLE) * CAST(max(n_g) AS DOUBLE) * CAST(max(n_all) AS DOUBLE)) AS tvd,
       |  CAST(sum(num) AS BIGINT) * $tCloseDen <= max(n_g) * max(n_all) * (2 * $tCloseNum)
       |    AS t_ok
       |FROM grid GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  // ------------------------------------------------------------------
  // Functional-dependency mining (schema profiling)
  // ------------------------------------------------------------------

  /** Functional-dependency audit over a FIXED candidate list — the
    * profiling pass (TANE/Metanome-shaped, restricted to declared
    * candidates rather than lattice search) that discovers which
    * column→column determinations actually hold in the data: the input
    * to normalization decisions, surrogate-key validation, and "is this
    * join key actually a key?" checks before a pipeline trusts it.
    * Candidates deliberately mix true keys (o_orderkey→o_custkey),
    * plausible-but-false FDs (c_nationkey→c_mktsegment), and the
    * TPC-H composite PK ((l_orderkey,l_linenumber)→l_partkey) — which
    * the synthetic generator does NOT enforce, so the audit reports it
    * VIOLATED: exactly the silent-assumption catch this op exists for
    * (a pipeline keying merges on that pair would corrupt data).
    *
    * Per candidate: distinct determinant values, how many of them map to
    * >1 dependent value (violating groups), and the holds verdict. All
    * exact integer counts.
    *
    * Scale (100 TB): each candidate is ONE determinant-keyed partial
    * agg (count(distinct dep) per det collapses map-side for low-
    * cardinality deps via partial distinct) followed by a |det|-group
    * rollup to a single row; candidates on the same table still scan it
    * independently — a production profiler would fuse same-table
    * candidates into one grouping-sets pass, traded here for per-
    * candidate plan clarity. No windows, no driver collects.
    */
  def qFdMine(spark: SparkSession, sfDir: String): DataFrame = {
    def cand(df: DataFrame, table: String, det: Seq[String], dep: String): DataFrame =
      df.groupBy(det.map(col): _*)
        .agg(countDistinct(col(dep)).as("n_dep"))
        .agg(count(lit(1)).as("n_det"),
          sum(when(col("n_dep") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(table).as("tbl"), lit(det.mkString(",")).as("det"),
          lit(dep).as("dep"), col("n_det"), col("n_violating"),
          (col("n_violating") === 0).as("holds"))
    cand(Tables.nation(spark, sfDir), "nation", Seq("n_nationkey"), "n_name")
      .unionAll(cand(Tables.customer(spark, sfDir), "customer",
        Seq("c_custkey"), "c_mktsegment"))
      .unionAll(cand(Tables.customer(spark, sfDir), "customer",
        Seq("c_nationkey"), "c_mktsegment"))
      .unionAll(cand(Tables.orders(spark, sfDir), "orders",
        Seq("o_orderkey"), "o_custkey"))
      .unionAll(cand(Tables.orders(spark, sfDir), "orders",
        Seq("o_custkey"), "o_orderpriority"))
      .unionAll(cand(Tables.lineitem(spark, sfDir), "lineitem",
        Seq("l_orderkey", "l_linenumber"), "l_partkey"))
      .unionAll(cand(Tables.lineitem(spark, sfDir), "lineitem",
        Seq("l_partkey"), "l_suppkey"))
      .orderBy(col("tbl"), col("det"), col("dep"))
  }

  val qFdMineSql: String = {
    def cand(table: String, det: Seq[String], dep: String): String = {
      val detCols = det.mkString(", ")
      val detLbl = det.mkString(",")
      s"""SELECT '$table' AS tbl, '$detLbl' AS det, '$dep' AS dep,
         |  count(*) AS n_det,
         |  CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         |  CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0 AS holds
         |FROM (SELECT $detCols, count(DISTINCT $dep) AS n_dep
         |      FROM $table GROUP BY $detCols)""".stripMargin
    }
    Seq(
      cand("nation", Seq("n_nationkey"), "n_name"),
      cand("customer", Seq("c_custkey"), "c_mktsegment"),
      cand("customer", Seq("c_nationkey"), "c_mktsegment"),
      cand("orders", Seq("o_orderkey"), "o_custkey"),
      cand("orders", Seq("o_custkey"), "o_orderpriority"),
      cand("lineitem", Seq("l_orderkey", "l_linenumber"), "l_partkey"),
      cand("lineitem", Seq("l_partkey"), "l_suppkey")
    ).mkString("", "\nUNION ALL\n", "\nORDER BY tbl, det, dep")
  }

  // ------------------------------------------------------------------
  // Feature-correlation grid: which numeric columns are redundant?
  // ------------------------------------------------------------------

  /** Pearson correlation grid over the lineitem numeric features
    * (quantity, price, discount, tax) — the feature-redundancy profile
    * a modeling pipeline reads before one-hot/scale decisions, and the
    * COLUMN-pair counterpart of the event-type correlation matrix
    * (E187): a |r| ≈ 1 pair means one column is carrying no new signal
    * (drop it) and an unexpected r ≈ 0 on a believed-coupled pair
    * (price vs quantity) flags a data bug.
    *
    * Exactness: each feature quantizes to exact BIGINTs first (quantity
    * floored units, price floored HUNDRED-dollar units, discount/tax in
    * basis points via DECIMAL — never a raw-double moment); ALL
    * six-sum statistics for all pairs come from ONE aggregate, and
    * each r is a fixed double tree (two sqrts) over those integers.
    * Int64 bound: the r numerators multiply n·Σx², which scales as n²
    * — 100-dollar units hold to ~10⁶ rows; coarsen the unit with n
    * (the audit measures association, not magnitude, so the unit is
    * free).
    *
    * Scale (100 TB): ONE map-side-combinable aggregate over one pruned
    * scan of four columns; the pair fan-out is C(4,2) struct literals
    * on the single result row. Output 6 rows, corpus-independent.
    */
  def qLineFeatureCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val feats: Seq[(String, Column)] = Seq(
      "qty" -> floor(col("l_quantity")).cast("long"),
      "price_h" -> expr(s"CAST(floor(${decSql("l_extendedprice")}) AS BIGINT) div 100"),
      "disc_bp" -> units(col("l_discount"), 10000),
      "tax_bp" -> units(col("l_tax"), 10000))
    val proj = Tables.lineitem(spark, sfDir)
      .select(feats.map { case (nm, c) => c.as(nm) }: _*)
    val names = feats.map(_._1)
    val moments: Seq[Column] =
      Seq(count(lit(1)).as("n")) ++
        names.map(nm => sum(col(nm)).as(s"s_$nm")) ++
        names.map(nm => sum(col(nm) * col(nm)).as(s"ss_$nm")) ++
        names.combinations(2).toSeq.map { case Seq(a, b) =>
          sum(col(a) * col(b)).as(s"sp_${a}_$b")
        }
    val grid = proj.agg(moments.head, moments.tail: _*)
    val pairRows = array(names.combinations(2).toSeq.map { case Seq(a, b) =>
      val num = (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
        .cast("double")
      val den = sqrt((col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a"))
        .cast("double")) *
        sqrt((col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))
          .cast("double"))
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n").as("n_rows"),
        col(s"sp_${a}_$b").as("sxy"), (num / den).as("pearson_r"))
    }: _*)
    grid.select(explode(pairRows).as("p")).select(col("p.*"))
      .orderBy(col("col_a"), col("col_b"))
  }

  val qLineFeatureCorrSql: String = {
    val q = Map(
      "qty" -> "CAST(floor(l_quantity) AS BIGINT)",
      "price_h" -> s"CAST(floor(${decSql("l_extendedprice")}) AS BIGINT) // 100",
      "disc_bp" -> unitsSql("l_discount", 10000),
      "tax_bp" -> unitsSql("l_tax", 10000))
    val names = Seq("qty", "price_h", "disc_bp", "tax_bp")
    val sums =
      names.map(nm => s"CAST(sum($nm) AS BIGINT) AS s_$nm") ++
        names.map(nm => s"CAST(sum($nm * $nm) AS BIGINT) AS ss_$nm") ++
        names.combinations(2).toSeq.map { case Seq(a, b) =>
          s"CAST(sum($a * $b) AS BIGINT) AS sp_${a}_$b"
        }
    val arms = names.combinations(2).toSeq.map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n AS n_rows, sp_${a}_$b AS sxy,
         |  CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE) /
         |    (sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)) *
         |     sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE))) AS pearson_r
         |FROM grid""".stripMargin
    }
    s"""WITH proj AS (
       |  SELECT ${names.map(nm => s"${q(nm)} AS $nm").mkString(", ")}
       |  FROM lineitem
       |),
       |grid AS (
       |  SELECT count(*) AS n, ${sums.mkString(",\n    ")}
       |  FROM proj
       |)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY col_a, col_b""".stripMargin
  }

  // ------------------------------------------------------------------
  // Dataset fingerprint: order-invariant content hash for run-to-run diff
  // ------------------------------------------------------------------

  /** Modulus keeping the additive fingerprint component int64-safe. */
  final val fpSumMod = 1000000007L

  /** Order-invariant dataset fingerprint over customer/orders/lineitem:
    * one row-content hash per row ([[graft.Exact.portableHash]]
    * of a canonical '|'-joined rendering), folded per table — and for
    * the dataset as a whole — with two COMMUTATIVE combiners (bit-XOR,
    * and sum of 30-bit reductions mod [[fpSumMod]]): the cheap "did
    * anything change since the last run" gate. [[qTableDiffCustomer]]
    * answers WHICH rows changed at O(rows) compare cost; this answers
    * WHETHER anything changed at O(1) compare cost, which is the check
    * every pipeline run does first. Two independent combiners because
    * XOR alone is blind to any row duplicated an even number of times
    * and mod-sum alone to compensating swaps — jointly they catch both.
    *
    * Canonical rendering: every float-typed column enters as an exact
    * scaled BIGINT (money/quantity/rates ×10⁴ via DECIMAL — the
    * registry money rule; a raw double's string form is NOT
    * engine-portable), timestamps as epoch micros, ids/strings as-is.
    *
    * Scale (100 TB): narrow per-row hash projections (codegen'd md5 —
    * no UDF), ONE partial aggregate per table with commutative merge —
    * that commutativity is exactly what makes the fingerprint
    * partition- and order-invariant at any parallelism. Output: 4 rows.
    */
  def qDatasetFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    def money(c: Column): Column = units(c, 10000)
    def rowHash(parts: Seq[Column]): Column =
      portableHash(concat_ws("|", parts.map(_.cast("string")): _*))
    val cust = Tables.customer(spark, sfDir).select(lit("customer").as("tbl"),
      rowHash(Seq(col("c_custkey"), col("c_name"), col("c_nationkey"),
        money(col("c_acctbal")), col("c_mktsegment"))).as("h"))
    val ords = Tables.orders(spark, sfDir).select(lit("orders").as("tbl"),
      rowHash(Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        money(col("o_totalprice")), unix_micros(col("o_orderdate").cast("timestamp")),
        col("o_orderpriority"))).as("h"))
    val line = Tables.lineitem(spark, sfDir).select(lit("lineitem").as("tbl"),
      rowHash(Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), money(col("l_quantity")), money(col("l_extendedprice")),
        money(col("l_discount")), money(col("l_tax")), col("l_returnflag"),
        col("l_linestatus"), unix_micros(col("l_shipdate").cast("timestamp")))).as("h"))
    val u = cust.unionAll(ords).unionAll(line)
    def fold(df: DataFrame, label: Column): DataFrame =
      df.groupBy(label.as("tbl"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_hash"),
          sum(col("h") % fpSumMod).as("sum_mod"))
    fold(u, col("tbl"))
      .unionAll(fold(u, lit("zz_dataset")))
      .orderBy(col("tbl"))
  }

  val qDatasetFingerprintSql: String = {
    def money(e: String): String = unitsSql(e, 10000)
    def rowHash(parts: Seq[String]): String =
      portableHashSql("concat_ws('|', " + parts.mkString(", ") + ")")
    val cust = s"SELECT 'customer' AS tbl, ${rowHash(Seq("c_custkey", "c_name",
      "c_nationkey", money("c_acctbal"), "c_mktsegment"))} AS h FROM customer"
    val ords = s"SELECT 'orders' AS tbl, ${rowHash(Seq("o_orderkey", "o_custkey",
      "o_orderstatus", money("o_totalprice"), "epoch_us(o_orderdate)",
      "o_orderpriority"))} AS h FROM orders"
    val line = s"SELECT 'lineitem' AS tbl, ${rowHash(Seq("l_orderkey",
      "l_linenumber", "l_partkey", "l_suppkey", money("l_quantity"),
      money("l_extendedprice"), money("l_discount"), money("l_tax"),
      "l_returnflag", "l_linestatus", "epoch_us(l_shipdate)"))} AS h FROM lineitem"
    s"""WITH u AS (
       |  $cust
       |  UNION ALL
       |  $ords
       |  UNION ALL
       |  $line
       |)
       |SELECT tbl, n_rows, xor_hash, sum_mod FROM (
       |  SELECT tbl, count(*) AS n_rows, bit_xor(h) AS xor_hash,
       |    CAST(sum(h % $fpSumMod) AS BIGINT) AS sum_mod
       |  FROM u GROUP BY tbl
       |  UNION ALL
       |  SELECT 'zz_dataset', count(*), bit_xor(h),
       |    CAST(sum(h % $fpSumMod) AS BIGINT)
       |  FROM u
       |)
       |ORDER BY tbl""".stripMargin
  }

  val registry: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q_profile_orders" -> ((qProfileOrders _, qProfileOrdersSql)),
    "q_check_orders" -> ((qCheckOrders _, qCheckOrdersSql)),
    "q_kanon_customer" -> ((qKAnonCustomer _, qKAnonCustomerSql)),
    "q_ldiv_customer" -> ((qLDivCustomer _, qLDivCustomerSql)),
    "q_tclose_customer" -> ((qTCloseCustomer _, qTCloseCustomerSql)),
    "q_event_drift" -> ((qEventDrift _, qEventDriftSql)),
    "q_pseudonymize_join" -> ((qPseudonymizeJoin _, qPseudonymizeJoinSql)),
    "q_fd_mine" -> ((qFdMine _, qFdMineSql)),
    "q_dataset_fingerprint" -> ((qDatasetFingerprint _, qDatasetFingerprintSql)),
    "q_line_feature_corr" -> ((qLineFeatureCorr _, qLineFeatureCorrSql))
  )
}
