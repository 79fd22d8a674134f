package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Exact.{dec, decSql, units, unitsSql}
import graft.model.Tables

/** The remaining classic TPC-H join shapes (Q2, Q6, Q11, Q12, Q13, Q20,
  * Q21), completing the 22-query suite alongside [[Analytics]] and
  * [[Joins]]. The testdata schema has no `partsupp`, ship modes,
  * commit/receipt dates or comment columns, so each query keeps its
  * defining PLAN SHAPE (the thing that matters at 100 TB) on adapted
  * predicates, the same way `q4_late_orders` re-reads lateness from
  * `l_shipdate` and `q16_supplier_census` bridges part↔supplier through
  * lineitem.
  *
  * Money follows the registry-wide discipline: sums in DECIMAL(18,4) (or
  * integer cents for comparisons), double only in the final projection —
  * so every threshold and tie decides identically in Spark and DuckDB.
  */
object TpchTail {

  // --- Q2: minimum-cost supplier per part (correlated-min join-back) ---

  /** Q2's shape — for each qualifying part, the EUROPE supplier offering
    * it cheapest — with lineitem as the part↔supplier offer bridge (no
    * partsupp): an offer's cost is the supplier's minimum observed
    * extended price for the part, in exact cents. The correlated
    * `ps_supplycost = (SELECT min ...)` subquery becomes the distributed
    * agg-then-pick plan: one (part, supplier) aggregate, then a per-part
    * `row_number` over (cost, suppkey) keeps exactly the min-cost offer
    * with a deterministic supplier tiebreak — same rows as the
    * correlated form, one shuffle of the aggregate-sized offer table.
    *
    * Scale (100 TB): region→nation→supplier prunes the fact FIRST via a
    * broadcast semi-shape (only EUROPE suppliers' lines survive the
    * scan-side join), the part filter broadcasts likewise, so the only
    * corpus-sized shuffle is the (part, supplier) partial aggregate; the
    * window runs on |offers| ≤ |part×supplier|, dimension-bounded.
    */
  def q2MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val euroSupp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, sfDir).filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val parts = Tables.part(spark, sfDir)
      .filter($"p_size" === 15 && $"p_type" === "LARGE")
      .select($"p_partkey", $"p_brand")
    val offers = Tables.lineitem(spark, sfDir)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(euroSupp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"p_partkey", $"p_brand", $"s_suppkey", $"s_name",
        $"s_acctbal", $"n_name")
      .agg(min(units($"l_extendedprice", 100)).as("cost_c"))
    val w = Window.partitionBy($"p_partkey")
      .orderBy($"cost_c", $"s_suppkey")
    offers.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"p_partkey", $"p_brand", $"s_suppkey", $"s_name", $"n_name",
        $"s_acctbal", $"cost_c")
      .orderBy($"p_partkey")
  }

  val q2MinCostSupplierSql: String =
    s"""WITH offers AS (
      |  SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal, n_name,
      |    min(${unitsSql("l_extendedprice", 100)}) AS cost_c
      |  FROM lineitem
      |  JOIN part     ON l_partkey = p_partkey AND p_size = 15 AND p_type = 'LARGE'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation   ON s_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |  GROUP BY 1, 2, 3, 4, 5, 6
      |)
      |SELECT p_partkey, p_brand, s_suppkey, s_name, n_name, s_acctbal, cost_c
      |FROM (SELECT *, row_number() OVER (PARTITION BY p_partkey
      |        ORDER BY cost_c, s_suppkey) AS rn FROM offers)
      |WHERE rn = 1
      |ORDER BY p_partkey""".stripMargin

  // --- Q6: forecasting-revenue-change scan aggregate ---

  /** Q6 verbatim (every column it needs exists here): potential revenue
    * delta from eliminating small discounts — one filtered scan, one
    * 1-row aggregate, zero joins. The POINT of Q6 at scale: all three
    * predicates push into the parquet scan (`PushedFilters`), the
    * aggregate is map-side partial, and the job moves O(matching rows)
    * through a single exchange of partial sums. The revenue term
    * `price × discount` multiplies exact decimals.
    *
    * The discount band compares DOUBLES against double literals — safe
    * here and in DuckDB because both parse `0.05`/`0.07` to identical
    * bits and the stored values are the same parsed doubles; no decimal
    * rounding ever intervenes.
    */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(sum(dec($"l_extendedprice") * dec($"l_discount"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q6ForecastRevenueSql: String =
    s"""SELECT CAST(sum(${decSql("l_extendedprice")} *
      |               ${decSql("l_discount")}) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // --- Q11: important-stock value census (global-fraction HAVING) ---

  /** Q11's shape: which parts represent a non-trivial fraction of one
    * nation's total traded value — a per-part aggregate HAVING-filtered
    * against a GLOBAL scalar aggregate of the same measure. Stock value
    * is adapted to shipped value (lineitem bridge, nationkey 7's
    * suppliers). Both sides are exact integer cents, and the threshold
    * compare `1000 · part_value > total` is pure BIGINT arithmetic — a
    * fractional-threshold double compare could flip boundary parts
    * between engines.
    *
    * Scale (100 TB): the nation's supplier list broadcasts and prunes
    * the fact at the scan; ONE partial-aggregated part-keyed shuffle
    * produces per-part values; the global total re-aggregates those
    * aggregates (never the fact) and rides a 1-row broadcast cross join
    * back — the [[Analytics.q22DormantRich]] scalar pattern.
    */
  def q11ImportantStock(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val natSupp = Tables.supplier(spark, sfDir)
      .filter($"s_nationkey" === 7).select($"s_suppkey")
    val perPart = Tables.lineitem(spark, sfDir)
      .join(broadcast(natSupp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey")
      .agg(sum(units($"l_extendedprice", 100)).as("value_c"))
    val total = perPart.agg(sum($"value_c").as("total_c"))
    perPart.crossJoin(broadcast(total))
      .filter(lit(1000L) * $"value_c" > $"total_c")
      .select($"l_partkey", $"value_c")
      .orderBy($"value_c".desc, $"l_partkey")
  }

  val q11ImportantStockSql: String =
    s"""WITH per_part AS (
      |  SELECT l_partkey,
      |    CAST(sum(${unitsSql("l_extendedprice", 100)})
      |      AS BIGINT) AS value_c
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = 7
      |  GROUP BY l_partkey
      |)
      |SELECT l_partkey, value_c
      |FROM per_part, (SELECT CAST(sum(value_c) AS BIGINT) AS total_c FROM per_part)
      |WHERE 1000 * value_c > total_c
      |ORDER BY value_c DESC, l_partkey""".stripMargin

  // --- Q12: shipment priority census (conditional fact-fact agg) ---

  /** Q12's shape: does a shipment class carry its share of urgent
    * orders? — a lineitem⋈orders join with per-class conditional counts
    * of order priority. Ship mode doesn't exist in this schema; the
    * return flag plays the class column (3 groups), and "received in
    * 1997" becomes "shipped in 1997". Conditional counts use
    * `count(CASE …)`, which is BIGINT in both engines (a `sum(CASE 1
    * END)` would come back HUGEINT from DuckDB and hash-mismatch).
    *
    * Scale (100 TB): the year predicate prunes lineitem at the scan;
    * the orderkey equi-join is the one shuffle (orders ships only
    * (o_orderkey, o_orderpriority)); the 3-group aggregate is map-side
    * combined.
    */
  def q12ShipPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hi = Seq("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(when($"o_orderpriority".isin(hi: _*), lit(1))).as("high_line_count"),
        count(when(!$"o_orderpriority".isin(hi: _*), lit(1))).as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  val q12ShipPrioritySql: String =
    """SELECT l_returnflag,
      |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
      |    AS high_line_count,
      |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
      |    AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // --- Q13: customer order-count distribution (outer join + 2-level agg) ---

  /** Q13's shape: the histogram of how many (non-urgent) orders each
    * customer has placed, INCLUDING the zero bucket — the two-level
    * aggregate whose defining subtlety is the left outer join: an inner
    * join would silently drop order-less customers and the 0-count bar,
    * the single most business-relevant bucket. The comment-pattern
    * exclusion becomes an order-priority exclusion (filtered BEFORE the
    * join, so excluded orders don't turn their customers into false
    * zeros — same as the original's pushed-down NOT LIKE).
    *
    * Scale (100 TB): first aggregate keys on custkey — the same key as
    * the join, so Catalyst reuses one exchange for both; the second
    * aggregate runs on |customers| rows collapsed to |distinct counts|
    * groups, map-side combinable.
    */
  def q13OrderCountDist(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
      .filter($"o_orderpriority" =!= "4-NOT SPECIFIED")
      .select($"o_orderkey", $"o_custkey")
    Tables.customer(spark, sfDir).select($"c_custkey")
      .join(o, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q13OrderCountDistSql: String =
    """WITH per_cust AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer
      |  LEFT JOIN orders ON c_custkey = o_custkey
      |    AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY c_custkey
      |)
      |SELECT c_count, count(*) AS custdist
      |FROM per_cust
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // --- Q20: dominant suppliers of promo parts (aggregate semi-join chain) ---

  /** Q20's shape: suppliers sitting on a dominant share of a product
    * line — `ps_availqty > ½ · shipped quantity` becomes "this supplier
    * shipped MORE THAN HALF of the part's 1997 PROMO volume", keeping
    * the defining nested-subquery chain: fact aggregate → threshold
    * compare → DISTINCT supplier list → semi join into the supplier
    * dimension. Quantities are integral doubles, floored to BIGINT, so
    * the `2·s > tot` majority compare is exact (a supplier shipping
    * exactly half does NOT qualify, identically in both engines).
    *
    * Scale (100 TB): the promo-part filter broadcasts and prunes the
    * fact at the scan; ONE (part, supplier)-keyed partial aggregate is
    * the only corpus shuffle; per-part totals re-aggregate the
    * aggregate; the qualifying supplier list is tiny and rides a
    * broadcast LEFT SEMI into supplier — the dimension never shuffles.
    */
  def q20DominantSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val promo = Tables.part(spark, sfDir)
      .filter($"p_type" === "PROMO").select($"p_partkey")
    val shipped = Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(promo), $"l_partkey" === $"p_partkey")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum(floor($"l_quantity").cast("long")).as("s_qty"))
    val perPart = shipped.groupBy($"l_partkey").agg(sum($"s_qty").as("tot_qty"))
    val dominant = shipped.join(perPart, "l_partkey")
      .filter(lit(2L) * $"s_qty" > $"tot_qty")
      .select($"l_suppkey").distinct()
    Tables.supplier(spark, sfDir)
      .join(dominant, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name", $"s_acctbal")
      .orderBy($"s_suppkey")
  }

  val q20DominantSupplierSql: String =
    """WITH shipped AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS s_qty
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  GROUP BY 1, 2
      |),
      |per_part AS (
      |  SELECT l_partkey, CAST(sum(s_qty) AS BIGINT) AS tot_qty
      |  FROM shipped GROUP BY l_partkey
      |),
      |dominant AS (
      |  SELECT DISTINCT l_suppkey
      |  FROM shipped JOIN per_part USING (l_partkey)
      |  WHERE 2 * s_qty > tot_qty
      |)
      |SELECT s_suppkey, s_name, s_acctbal
      |FROM supplier
      |WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
      |ORDER BY s_suppkey""".stripMargin

  // --- Q21: sole-late supplier census (semi + anti over one fact pass) ---

  /** Q21's shape: suppliers who SINGLE-HANDEDLY held up multi-supplier
    * orders — the famous EXISTS(other line) AND NOT EXISTS(other late
    * line) double-correlation. Lateness re-uses `q4_late_orders`'
    * adaptation (shipped > 60 days after order date). Rather than two
    * correlated probes, the distributed plan derives per-order facts
    * ONCE — distinct supplier count and distinct LATE supplier count —
    * and the candidate (order, late supplier) pairs filter against them:
    * `n_supp ≥ 2 AND n_late_supp = 1` ⟺ "another supplier exists, no
    * OTHER late supplier exists". One orderkey-keyed aggregate instead
    * of two correlated semi/anti probes of the same fact.
    *
    * Scale (100 TB): the lineitem⋈orders equi-join is the one
    * corpus-sized shuffle; the per-order aggregate and candidate dedup
    * key on the SAME orderkey (exchange reuse); distinct-counting two
    * columns costs one expand of the narrow (orderkey, suppkey, late)
    * projection. The final per-supplier count is dimension-sized and
    * the name join broadcasts.
    */
  def q21SoleLateSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lo = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
      .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        ($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS")).as("late"))
    // ONE pass (r16): the surviving orders have EXACTLY ONE distinct
    // late supplier, so max(when(late, suppkey)) IS that supplier — the
    // separate candidate-dedup branch and the candidates⋈perOrder join
    // computed the same (order, late supplier) rows from a second full
    // evaluation of the lineitem⋈orders pipeline. Same output rows by
    // construction (for n_late_supp = 1 the distinct candidate set is the
    // singleton {max(when(late, suppkey))}); oracle unchanged.
    // TWO-LEVEL distinct instead of countDistinct (r16 measured fix):
    // two countDistincts + a plain max force a 3-way Expand of the
    // corpus-sized (orderkey, suppkey, late) stream before its exchange;
    // pre-deduping on (orderkey, suppkey) first costs one extra — but
    // 1×-volume, map-side-combinable — exchange and makes every
    // order-level aggregate a plain agg (no Expand anywhere). max(late)
    // is TRUE iff that supplier shipped any late line, so the counts are
    // identical by construction.
    val perSupp = lo.groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"late").as("late"))
    val perOrder = perSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(when($"late", lit(1L)).otherwise(lit(0L))).as("n_late_supp"),
        max(when($"late", $"l_suppkey")).as("l_suppkey"))
    perOrder
      .filter($"n_supp" >= 2 && $"n_late_supp" === 1)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, sfDir)),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_name", $"numwait")
      .orderBy($"numwait".desc, $"s_name")
  }

  val q21SoleLateSupplierSql: String =
    """WITH lo AS (
      |  SELECT l_orderkey, l_suppkey,
      |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |),
      |per_order AS (
      |  SELECT l_orderkey,
      |    count(DISTINCT l_suppkey) AS n_supp,
      |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
      |  FROM lo GROUP BY l_orderkey
      |),
      |cand AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE late
      |)
      |SELECT s_name, count(*) AS numwait
      |FROM cand
      |JOIN per_order USING (l_orderkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE n_supp >= 2 AND n_late_supp = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  val registry: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q2_min_cost_supplier" -> ((q2MinCostSupplier _, q2MinCostSupplierSql)),
    "q6_forecast_revenue" -> ((q6ForecastRevenue _, q6ForecastRevenueSql)),
    "q11_important_stock" -> ((q11ImportantStock _, q11ImportantStockSql)),
    "q12_ship_priority" -> ((q12ShipPriority _, q12ShipPrioritySql)),
    "q13_order_count_dist" -> ((q13OrderCountDist _, q13OrderCountDistSql)),
    "q20_dominant_supplier" -> ((q20DominantSupplier _, q20DominantSupplierSql)),
    "q21_sole_late_supplier" -> ((q21SoleLateSupplier _, q21SoleLateSupplierSql))
  )
}
