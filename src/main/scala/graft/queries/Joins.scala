package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Exact.{dec, decSql}
import graft.model.Tables

/** Join kernels beyond plain equi-join — the two shapes a 100 TB pipeline
  * hits that Spark does not ship as first-class operators:
  *
  *   - '''Range join via binning''' ([[rangeJoinBinned]]): `l.ts BETWEEN
  *     r.start AND r.end` predicates plan as BroadcastNestedLoopJoin (O(N×M)
  *     compares, and only if one side broadcasts at all). Discretizing time
  *     into fixed bins turns the predicate into an equi-join on bin id —
  *     shuffle-partitionable on both sides, each row compared only against
  *     ranges sharing its bin.
  *   - '''Salted equi-join''' ([[saltedEquiJoin]]): when one join key
  *     carries a disproportionate share of rows, the hash shuffle sends the
  *     whole hot key to one task. AQE's skew-join split is the first-line
  *     fix (proven in SkewJoinSpec) but only applies when the join output
  *     has no distribution requirement; salting pre-splits the hot key into
  *     `numSalts` synthetic sub-keys at the cost of replicating the dim side
  *     `numSalts`×, and works in every plan shape.
  *
  * Both kernels are pure DataFrame composition — Catalyst sees ordinary
  * equi-joins, so pushdown/pruning/AQE all still apply.
  */
object Joins {

  // ------------------------------------------------------------------
  // Binned range join
  // ------------------------------------------------------------------

  /** Inner-joins `left` rows to every `ranges` row whose half-open interval
    * `[startCol, endCol)` contains `left.tsCol`, without a nested-loop plan.
    *
    * Mechanics: both sides map micros to a bin id with truncating integer
    * division (monotone, so a contained timestamp's bin always lies within
    * its range's bin span); ranges explode to one row per covered bin
    * (`sequence`), and the join is `bin = bin AND ts >= start AND ts < end`.
    *
    * Scale: the range side replicates by `ceil(rangeLen / binSeconds) + 1`
    * — pick `binSeconds` at the typical range length so replication stays
    * O(1). Candidate pairs per event = ranges sharing its bin, not all M.
    * Both sides shuffle-partition on the bin id; no broadcast requirement,
    * no nested loop (asserted in JoinsSpec at plan level).
    */
  def rangeJoinBinned(
      left: DataFrame, tsCol: String,
      ranges: DataFrame, startCol: String, endCol: String,
      binSeconds: Long): DataFrame = {
    require(binSeconds > 0, s"binSeconds must be positive, got $binSeconds")
    val binUs = binSeconds * 1000000L
    val l = left.withColumn("__lbin", expr(s"unix_micros(`$tsCol`) div ${binUs}L"))
    val r = ranges.withColumn("__rbin",
      explode(sequence(
        expr(s"unix_micros(`$startCol`) div ${binUs}L"),
        expr(s"(unix_micros(`$endCol`) - 1L) div ${binUs}L"))))
    l.join(r, col("__lbin") === col("__rbin") &&
        col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__lbin", "__rbin")
  }

  /** Overlapping monitoring windows over the events month: 720 hourly
    * starts at :15 past, each 100 minutes long — deliberately unaligned to
    * hour boundaries and mutually overlapping, so only a genuine range join
    * (not a `date_trunc` group-by) produces them. Generated, not scanned:
    * at any scale this side is 720 rows × 3 bins.
    */
  private def monitorWindows(spark: SparkSession): DataFrame =
    spark.range(0, 720)
      .select(col("id").as("window_id"),
        expr("timestampadd(HOUR, CAST(id AS INT), TIMESTAMP '2024-01-01 00:15:00')").as("w_start"))
      .withColumn("w_end", expr("timestampadd(MINUTE, 100, w_start)"))

  /** Per-window event stats through [[rangeJoinBinned]] (1-hour bins ≈ the
    * 100-minute window length → the window side explodes to ≤3 bins).
    */
  def qEventRangeJoin(spark: SparkSession, sfDir: String): DataFrame =
    rangeJoinBinned(Tables.events(spark, sfDir), "ts",
        monitorWindows(spark), "w_start", "w_end", binSeconds = 3600L)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("window_id"))

  val qEventRangeJoinSql: String =
    s"""WITH win AS (
      |  SELECT k AS window_id,
      |    TIMESTAMP '2024-01-01 00:15:00' + to_hours(CAST(k AS BIGINT)) AS w_start,
      |    TIMESTAMP '2024-01-01 00:15:00' + to_hours(CAST(k AS BIGINT))
      |      + to_minutes(100) AS w_end
      |  FROM generate_series(0, 719) AS t(k)
      |)
      |SELECT window_id, count(*) AS n_events,
      |  count(DISTINCT e.user_id) AS n_users,
      |  CAST(sum(${decSql("e.value")}) AS DOUBLE) AS total_value
      |FROM win w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
      |GROUP BY window_id ORDER BY window_id""".stripMargin

  // ------------------------------------------------------------------
  // Salted equi-join
  // ------------------------------------------------------------------

  /** Inner equi-join `fact.factKey = dim.dimKey` with the fact side's hot
    * keys pre-split across `numSalts` synthetic sub-keys.
    *
    * Each fact row gets a deterministic salt from `saltSrc` (any
    * fact-side column with per-row variety — an id, not the join key);
    * the dim side replicates once per salt value, so every
    * (key, salt) cell holds the full dim rows for that key and exactly
    * `1/numSalts` of the fact rows in expectation. The join condition
    * becomes composite `(key, salt)`, so the shuffle hash-partitions on
    * both — a key carrying 30% of the fact now spreads over `numSalts`
    * tasks. Result set is identical to the unsalted join: each fact row
    * lands in exactly one salt cell and meets every dim row for its key
    * there (proven against the plain join in JoinsSpec, and against the
    * unsalted oracle SQL in the correctness gate).
    *
    * `xxhash64` is Spark-specific, which is fine HERE (unlike content
    * hashes in graft.ext): the salt routes rows between tasks and is
    * dropped before output, so no engine-dependent value ever escapes.
    *
    * Cost: dim side ×`numSalts` — size it so `numSalts × |dim per key|`
    * stays small relative to the hot key's row count. For moderate skew
    * under AQE prefer the built-in skew split (SkewJoinSpec); salting is
    * for shapes AQE declines (distribution requirements downstream) or
    * extreme single-key skew.
    */
  def saltedEquiJoin(
      fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String,
      saltSrc: Column, numSalts: Int): DataFrame = {
    require(numSalts > 0, s"numSalts must be positive, got $numSalts")
    val salted = fact.withColumn("__fsalt",
      pmod(xxhash64(saltSrc), lit(numSalts.toLong)).cast("int"))
    val replicated = dim.withColumn("__dsalt",
      explode(sequence(lit(0), lit(numSalts - 1))))
    salted.join(replicated,
        col(factKey) === col(dimKey) && col("__fsalt") === col("__dsalt"))
      .drop("__fsalt", "__dsalt")
  }

  /** Events enriched with the customer dimension through the salted join
    * (events.user_id is a natural hot-key candidate: a handful of power
    * users dominate real event streams), rolled up by market segment.
    * The oracle is the PLAIN join — identical results is the point.
    */
  def qEventSaltedEnrich(spark: SparkSession, sfDir: String): DataFrame =
    saltedEquiJoin(
        Tables.events(spark, sfDir), Tables.customer(spark, sfDir),
        factKey = "user_id", dimKey = "c_custkey",
        saltSrc = col("event_id"), numSalts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("c_mktsegment"))

  val qEventSaltedEnrichSql: String =
    s"""SELECT c.c_mktsegment, count(*) AS n_events,
      |  count(DISTINCT e.user_id) AS n_users,
      |  CAST(sum(${decSql("e.value")}) AS DOUBLE) AS total_value
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin

  val registry: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q_event_range_join" -> ((qEventRangeJoin _, qEventRangeJoinSql)),
    "q_event_salted_enrich" -> ((qEventSaltedEnrich _, qEventSaltedEnrichSql))
  )
}
