package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Exact.{dec, decSql, epochDay, epochDaySql, logScale, orderedSumExprSql,
  orderedSumSql, quantLog, quantLogSql, revenue, revenueSql, sampleBucket, sampleBucketSql,
  units, unitsSql}
import graft.Exec
import graft.model.Tables

/** Warehouse-maintenance operators the reference's star-schema context
  * implies but never ships: gap backfill over an event stream and the
  * slowly-changing-dimension type-2 merge that keeps dimension history.
  * Both are pure DataFrame composition — Catalyst plans them as one
  * window / one broadcast join, and both are oracle-checked row-for-row
  * against DuckDB.
  */
object Warehouse {

  // ------------------------------------------------------------------
  // Last-observation-carried-forward backfill (gap fill)
  // ------------------------------------------------------------------

  /** LOCF backfill: annotate EVERY event with the most recent purchase
    * value its user has produced so far (NULL until the first purchase) —
    * the standard gap-fill that turns a sparse measurement stream into a
    * dense feature column ("state as of this row"). Only `purchase` rows
    * carry the measurement; all other event types are gaps to fill.
    *
    * Mechanics: one window per user ordered by (ts, event_id) — a total
    * order, `event_id` is unique — with `last(measurement, ignoreNulls)`
    * over ROWS UNBOUNDED PRECEDING..CURRENT. No self-join, no as-of join:
    * the running "last seen" is a single pass within each partition.
    *
    * Scale (100 TB): ONE hash exchange on `user_id` + per-key sort — the
    * minimum any per-user ordered computation pays. State per task is one
    * value per open group, not per row. Skew: user activity distributions
    * are Zipfian but bounded (a user produces human-scale event counts);
    * a hot synthetic key would take the [[Joins.saltedEquiJoin]] pre-split
    * or a two-phase per-(user, day) LOCF chained through day boundaries.
    * The frame is ROWS-bounded so Spark's WindowExec streams it without
    * buffering the whole partition.
    */
  def qEventLocf(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("last_purchase_value",
        last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
          .over(w))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  val qEventLocfSql: String =
    """SELECT event_id, user_id, event_type, value,
      |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // SCD type-2 dimension merge
  // ------------------------------------------------------------------

  /** Initial validity date of the loaded dimension (TPC-H epoch). */
  val scdInitialDate = "1992-01-01"

  /** Effective date of the staged change batch. */
  val scdEffectiveDate = "1998-06-01"

  /** Slowly-changing-dimension type-2 merge over the customer dimension:
    * given the CURRENT dimension (every customer one open version since
    * [[scdInitialDate]]) and a STAGED change batch (here: every 7th
    * customer re-segmented, but only every 14th actually CHANGES — the
    * other staged rows carry the value the dimension already holds), emit
    * the post-merge version table:
    *
    *   - changed keys → the old version CLOSED (`valid_to` =
    *     [[scdEffectiveDate]], `is_current` = false) plus a NEW open
    *     version from the effective date;
    *   - staged no-ops (value equal to current) → untouched single open
    *     version — a merge that versions on touch rather than on change
    *     would double the dimension on every full re-stage;
    *   - unstaged keys → untouched.
    *
    * Mechanics: ONE left join dim←staged decides each key's class; the
    * three output shapes are narrow projections of that joined frame,
    * unioned. The join is broadcast by construction — a change batch is
    * change-data capture, orders of magnitude smaller than the dimension.
    *
    * Scale (100 TB): the dimension is scanned once per output branch (3×)
    * but never shuffled — each branch is scan→broadcast-probe→project,
    * and the union is partition-local. (A single-scan form would
    * `flatMap` 1-or-2 output rows per joined row; three scans keep every
    * branch whole-stage-codegen'd and cost only IO, which the 2-column
    * projection prunes to almost nothing.) The final ORDER BY is oracle
    * protocol, not operator semantics.
    */
  def qScd2Customer(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        to_date(lit(scdInitialDate)).as("valid_from"))
    val staged = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 14 === 0, lit("REMAPPED"))
          .otherwise(col("c_mktsegment")).as("new_segment"))
    val eff = to_date(lit(scdEffectiveDate))
    val joined = dim.join(broadcast(staged), Seq("c_custkey"), "left")
    val isChange = col("new_segment").isNotNull && col("new_segment") =!= col("segment")
    val closed = joined.filter(isChange)
      .select(col("c_custkey"), col("segment"), col("valid_from"),
        eff.as("valid_to"), lit(false).as("is_current"))
    val opened = joined.filter(isChange)
      .select(col("c_custkey"), col("new_segment").as("segment"),
        eff.as("valid_from"), lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"))
    val untouched = joined.filter(!isChange || col("new_segment").isNull)
      .select(col("c_custkey"), col("segment"), col("valid_from"),
        lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
    closed.unionAll(opened).unionAll(untouched)
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  val qScd2CustomerSql: String =
    s"""WITH dim AS (
       |  SELECT c_custkey, c_mktsegment AS segment,
       |    DATE '$scdInitialDate' AS valid_from
       |  FROM customer
       |),
       |staged AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 14 = 0 THEN 'REMAPPED' ELSE c_mktsegment END AS new_segment
       |  FROM customer WHERE c_custkey % 7 = 0
       |),
       |joined AS (
       |  SELECT dim.*, staged.new_segment FROM dim LEFT JOIN staged USING (c_custkey)
       |)
       |SELECT c_custkey, segment, valid_from,
       |  DATE '$scdEffectiveDate' AS valid_to, false AS is_current
       |FROM joined WHERE new_segment IS NOT NULL AND new_segment <> segment
       |UNION ALL
       |SELECT c_custkey, new_segment AS segment,
       |  DATE '$scdEffectiveDate' AS valid_from, NULL AS valid_to, true AS is_current
       |FROM joined WHERE new_segment IS NOT NULL AND new_segment <> segment
       |UNION ALL
       |SELECT c_custkey, segment, valid_from, NULL AS valid_to, true AS is_current
       |FROM joined WHERE new_segment IS NULL OR new_segment = segment
       |ORDER BY c_custkey, valid_from""".stripMargin

  // ------------------------------------------------------------------
  // Table diff / reconciliation
  // ------------------------------------------------------------------

  /** Generic keyed table diff: classify every key of two table versions
    * as `added` / `removed` / `changed` / `unchanged`, comparing non-key
    * columns by value. The reconciliation pass behind every "what did
    * this batch actually change" audit and the input to an incremental
    * publish (ship only added+changed).
    *
    * Mechanics: ONE full outer join on the key; change detection uses
    * null-safe equality (`<=>`) per compared column so NULL→value and
    * value→NULL transitions count as changes rather than vanishing into
    * three-valued logic.
    *
    * Scale (100 TB): the single key-partitioned join is the floor for
    * content comparison; both sides shuffle once on the key (or zero
    * times if both versions are written key-bucketed,
    * [[graft.etl.Bucketing]]). For very wide rows, production variants
    * compare a precomputed row hash instead of N columns — same plan,
    * narrower payload.
    */
  def tableDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    val o = oldDf.select((key +: compareCols).map(c => col(c).as(s"old_$c")): _*)
    val n = newDf.select((key +: compareCols).map(c => col(c).as(s"new_$c")): _*)
    val joined = o.join(n, col(s"old_$key") === col(s"new_$key"), "full_outer")
    val same = compareCols
      .map(c => col(s"old_$c") <=> col(s"new_$c"))
      .reduce(_ && _)
    joined.select(
      coalesce(col(s"old_$key"), col(s"new_$key")).as(key),
      when(col(s"old_$key").isNull, lit("added"))
        .when(col(s"new_$key").isNull, lit("removed"))
        .when(same, lit("unchanged"))
        .otherwise(lit("changed")).as("diff_status"))
  }

  /** Diff of the customer dimension against a staged next version:
    * every 11th customer re-segmented (changed), every 13th dropped
    * (removed), plus 10 synthetic new keys (added) — exercising all four
    * classes. Output: per-class counts (the audit summary a reconciler
    * logs); the per-key frame is [[tableDiff]]'s to keep.
    */
  def qTableDiffCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val cur = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val next = cur
      .filter(col("c_custkey") % 13 =!= 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 11 === 0, lit("RESEGMENTED"))
          .otherwise(col("c_mktsegment")))
      .unionAll(Tables.customer(spark, sfDir)
        .orderBy(col("c_custkey")).limit(10)
        .select((col("c_custkey") + 9000000).as("c_custkey"),
          lit("NEWSEG").as("c_mktsegment"), col("c_acctbal")))
    tableDiff(cur, next, "c_custkey", Seq("c_mktsegment", "c_acctbal"))
      .groupBy(col("diff_status"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy(col("diff_status"))
  }

  val qTableDiffCustomerSql: String =
    """WITH cur AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      |),
      |next AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 11 = 0 THEN 'RESEGMENTED' ELSE c_mktsegment END AS c_mktsegment,
      |    c_acctbal
      |  FROM cur WHERE c_custkey % 13 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 9000000, 'NEWSEG', c_acctbal
      |  FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 10)
      |),
      |diff AS (
      |  SELECT coalesce(cur.c_custkey, next.c_custkey) AS c_custkey,
      |    CASE WHEN cur.c_custkey IS NULL THEN 'added'
      |         WHEN next.c_custkey IS NULL THEN 'removed'
      |         WHEN cur.c_mktsegment IS NOT DISTINCT FROM next.c_mktsegment
      |          AND cur.c_acctbal IS NOT DISTINCT FROM next.c_acctbal THEN 'unchanged'
      |         ELSE 'changed' END AS diff_status
      |  FROM cur FULL OUTER JOIN next ON cur.c_custkey = next.c_custkey
      |)
      |SELECT diff_status, count(*) AS n_keys FROM diff
      |GROUP BY diff_status ORDER BY diff_status""".stripMargin

  // ------------------------------------------------------------------
  // Entity resolution: blocked fuzzy matching
  // ------------------------------------------------------------------

  /** Maximum edit distance for an entity match. */
  val entityMaxEdits = 2

  /** Entity resolution over a dirty customer register: every 9th customer
    * re-appears under a new id with a typo'd name (3rd character
    * mangled), and the matcher must pair each dirty record with its
    * clean original WITHOUT comparing all pairs: candidates come from a
    * BLOCKING key (the 8-char name suffix, which the typo leaves intact
    * — blocking keys are chosen where the noise isn't), and only
    * candidates pay the `levenshtein` verification (≤ [[entityMaxEdits]]).
    *
    * The fundamental shape of dedupe/record-linkage at scale
    * ([[graft.ext.Dedup.qDocMinhashPairs]] is the same idea with hash
    * bands for documents): candidate generation must be an equi-join —
    * an edit-distance predicate alone plans a nested loop over N², which
    * no cluster survives. Block sizes here are O(1); a production
    * blocker adds a bucket-size cap exactly like the minhash pipeline's
    * `maxBandBucket`.
    *
    * Determinism: levenshtein is integer edit distance — identical in
    * both engines; the pair orientation (clean id < dirty id) and ORDER
    * BY make the output a total order.
    */
  def qCustEntityMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val dirty = base.filter(col("id") % 9 === 0)
      .select((col("id") + 500000).as("id"),
        concat(substring(col("name"), 1, 2), lit("x"),
          expr("substring(name, 4)")).as("name"))
    val all = base.unionAll(dirty).withColumn("block", expr("right(name, 8)"))
    val a = all.select(col("id").as("id_a"), col("name").as("name_a"), col("block"))
    val b = all.select(col("id").as("id_b"), col("name").as("name_b"), col("block"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("edits", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edits") <= entityMaxEdits)
      .select(col("id_a"), col("id_b"), col("edits"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val qCustEntityMatchSql: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS id, c_name AS name FROM customer
       |),
       |dirty AS (
       |  SELECT id + 500000 AS id,
       |    substr(name, 1, 2) || 'x' || substr(name, 4) AS name
       |  FROM base WHERE id % 9 = 0
       |),
       |all_recs AS (
       |  SELECT id, name, right(name, 8) AS block FROM base
       |  UNION ALL
       |  SELECT id, name, right(name, 8) AS block FROM dirty
       |)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS edits
       |FROM all_recs a JOIN all_recs b ON a.block = b.block AND a.id < b.id
       |WHERE levenshtein(a.name, b.name) <= $entityMaxEdits
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------
  // CDC changelog apply (keyed upsert/delete merge → next snapshot)
  // ------------------------------------------------------------------

  /** Apply a change-data-capture log to a keyed snapshot: `changes`
    * carries (key, seq, op ∈ I/U/D, payload); for each key only the
    * HIGHEST-seq op decides the outcome (last-wins), a `D` drops the key,
    * `I`/`U` replace the payload, untouched keys pass through — the MERGE
    * INTO semantics every warehouse sync job implements, as one plan.
    *
    * The last-wins reduction is `max_by(struct(payload), seq)` — a
    * map-side-combinable aggregate, NOT a row_number window (no per-key
    * sort, and the changelog shuffle carries one combined row per key per
    * map task). The merge itself is ONE full-outer join snapshot↔winners.
    *
    * Scale (100 TB): the snapshot shuffles once on the key (or never, if
    * both sides are bucketed on it — [[graft.etl.Bucketing]]); the
    * changelog is usually small enough to broadcast, but full-outer needs
    * both sides partitioned, so the plan stays correct when a backfill
    * replays a snapshot-sized changelog.
    */
  def applyCdc(snapshot: DataFrame, changes: DataFrame, key: String,
      payloadCols: Seq[String]): DataFrame = {
    val pay = struct(payloadCols.map(col): _*)
    val winners = changes
      .groupBy(col(key))
      .agg(max_by(struct(col("op"), pay.as("p")), col("seq")).as("w"))
      .select(col(key), col("w.op").as("__op"), col("w.p").as("__p"))
    snapshot
      .join(winners, Seq(key), "full_outer")
      .filter(coalesce(col("__op") =!= "D", lit(true))) // D drops; no-change keys keep
      .select(col(key) +: payloadCols.map(c =>
        when(col("__op").isNotNull, col(s"__p.$c")).otherwise(col(c)).as(c)): _*)
  }

  /** [[applyCdc]] over the customer snapshot with a deterministic
    * changelog fixture exercising every merge class: every 10th key
    * updated (seq 1), every 20th updated AGAIN (seq 2 — proves
    * last-wins), every 10th-offset-5 deleted, and a batch of brand-new
    * keys inserted above the existing keyspace.
    */
  def qCdcApplyCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val upd1 = c.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), lit(1L).as("seq"), lit("U").as("op"),
        col("c_name"), (col("c_acctbal") + 100).as("c_acctbal"))
    val upd2 = c.filter(col("c_custkey") % 20 === 0)
      .select(col("c_custkey"), lit(2L).as("seq"), lit("U").as("op"),
        col("c_name"), (col("c_acctbal") + 200).as("c_acctbal"))
    val del = c.filter(col("c_custkey") % 10 === 5)
      .select(col("c_custkey"), lit(1L).as("seq"), lit("D").as("op"),
        col("c_name"), col("c_acctbal"))
    val ins = c.filter(col("c_custkey") % 25 === 0)
      .select((col("c_custkey") + 1000000).as("c_custkey"), lit(1L).as("seq"),
        lit("I").as("op"), concat(lit("NEW "), col("c_name")).as("c_name"),
        lit(0.0).as("c_acctbal"))
    applyCdc(c, upd1.unionAll(upd2).unionAll(del).unionAll(ins),
        "c_custkey", Seq("c_name", "c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val qCdcApplyCustomerSql: String =
    """WITH snap AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
      |changes AS (
      |  SELECT c_custkey, 1 AS seq, 'U' AS op, c_name, c_acctbal + 100 AS c_acctbal
      |  FROM snap WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey, 2, 'U', c_name, c_acctbal + 200
      |  FROM snap WHERE c_custkey % 20 = 0
      |  UNION ALL
      |  SELECT c_custkey, 1, 'D', c_name, c_acctbal FROM snap WHERE c_custkey % 10 = 5
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 1, 'I', 'NEW ' || c_name, 0.0
      |  FROM snap WHERE c_custkey % 25 = 0
      |),
      |winners AS (
      |  SELECT c_custkey,
      |    arg_max(op, seq) AS op,
      |    arg_max(c_name, seq) AS w_name,
      |    arg_max(c_acctbal, seq) AS w_bal
      |  FROM changes GROUP BY c_custkey
      |)
      |SELECT COALESCE(s.c_custkey, w.c_custkey) AS c_custkey,
      |  CASE WHEN w.op IS NOT NULL THEN w.w_name ELSE s.c_name END AS c_name,
      |  CASE WHEN w.op IS NOT NULL THEN w.w_bal ELSE s.c_acctbal END AS c_acctbal
      |FROM snap s FULL OUTER JOIN winners w USING (c_custkey)
      |WHERE COALESCE(w.op <> 'D', true)
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // Linear-interpolation resampling (dense grid from sparse points)
  // ------------------------------------------------------------------

  /** Resample each user's sparse purchase-value series onto a dense
    * daily grid by LINEAR INTERPOLATION between the surrounding
    * measurements — the companion to [[qEventLocf]] (step-function fill)
    * when the downstream consumer wants a continuous signal. Grid points
    * are midnights between a user's first and last purchase; each takes
    *
    *   v = prev + (next − prev) · (t − t_prev) / (t_next − t_prev)
    *
    * from its bracketing purchases (exact hit ⇒ the measurement itself,
    * as t = t_prev collapses the slope term). The arithmetic is the same
    * literal expression on both engines — fixed operand order, no
    * reordered float accumulation — so results compare hash-exact.
    *
    * Mechanics: grid markers are generated per user (`sequence` +
    * `explode`), unioned with the measurements, and ONE user-keyed
    * window pass computes both brackets: LOCF (`last … IGNORE NULLS`,
    * preceding frame) and NOCB (`first … IGNORE NULLS`, following
    * frame). No self-join, no as-of join per grid point.
    *
    * Scale (100 TB): one exchange on user_id + one per-key sort carries
    * BOTH directions of bracketing; grid fan-out is bounded by the
    * user's active span in days. The following-frame window buffers its
    * partition (unbounded following) — with human-scale per-user rows
    * that is fine; for machine telemetry, flip to per-(user, week)
    * grids chained at boundaries.
    */
  def qEventInterpDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").cast("long").as("es"), col("value"))
    val grid = p.groupBy(col("user_id"))
      .agg(min(col("es")).as("lo"), max(col("es")).as("hi"))
      .select(col("user_id"),
        (ceil(col("lo").cast("double") / 86400) * 86400).cast("long").as("g0"),
        col("hi"))
      // single-point / sub-day spans have no midnight inside: emit no
      // grid (Spark's sequence throws on start > stop)
      .filter(col("g0") <= col("hi"))
      .select(col("user_id"),
        explode(sequence(col("g0"), col("hi"), lit(86400L))).as("es"))
      .select(col("user_id"), col("es"), lit(null).cast("double").as("value"),
        lit(1).as("is_grid"))
    val all = p.withColumn("is_grid", lit(0)).unionByName(grid)
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("es"), col("is_grid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id"))
      .orderBy(col("es"), col("is_grid"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    all
      .select(col("user_id"), col("es"), col("is_grid"),
        last(when(col("is_grid") === 0, col("value")), ignoreNulls = true).over(wPrev).as("pv"),
        last(when(col("is_grid") === 0, col("es")), ignoreNulls = true).over(wPrev).as("pt"),
        first(when(col("is_grid") === 0, col("value")), ignoreNulls = true).over(wNext).as("nv"),
        first(when(col("is_grid") === 0, col("es")), ignoreNulls = true).over(wNext).as("nt"))
      // a grid point needs a bracket — except an EXACT hit (pt = es),
      // which is its own value even at the series tail (nv null there)
      .filter(col("is_grid") === 1 && col("pv").isNotNull &&
        (col("nv").isNotNull || col("pt") === col("es")))
      .select(col("user_id"), col("es").as("grid_es"),
        when(col("nt").isNull || col("nt") === col("pt"), col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (col("es") - col("pt")).cast("double") / (col("nt") - col("pt")))
          .as("interp_value"))
      .orderBy(col("user_id"), col("grid_es"))
  }

  val qEventInterpDailySql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
      |  FROM events WHERE event_type = 'purchase'
      |),
      |spans AS (
      |  SELECT user_id,
      |    CAST(ceil(CAST(min(es) AS DOUBLE) / 86400) * 86400 AS BIGINT) AS g0,
      |    max(es) AS hi
      |  FROM p GROUP BY user_id
      |),
      |grid AS (
      |  SELECT user_id, unnest(range(g0, hi + 1, 86400)) AS es,
      |    CAST(NULL AS DOUBLE) AS value, 1 AS is_grid
      |  FROM spans WHERE g0 <= hi
      |),
      |unioned AS (
      |  SELECT user_id, es, value, 0 AS is_grid FROM p
      |  UNION ALL SELECT user_id, es, value, is_grid FROM grid
      |),
      |br AS (
      |  SELECT user_id, es, is_grid,
      |    last_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
      |      OVER wp AS pv,
      |    last_value(CASE WHEN is_grid = 0 THEN es END IGNORE NULLS)
      |      OVER wp AS pt,
      |    first_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
      |      OVER wn AS nv,
      |    first_value(CASE WHEN is_grid = 0 THEN es END IGNORE NULLS)
      |      OVER wn AS nt
      |  FROM unioned
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY es, is_grid
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wn AS (PARTITION BY user_id ORDER BY es, is_grid
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT user_id, es AS grid_es,
      |  CASE WHEN nt IS NULL OR nt = pt THEN pv
      |       ELSE pv + (nv - pv) * CAST(es - pt AS DOUBLE) / (nt - pt) END
      |    AS interp_value
      |FROM br
      |WHERE is_grid = 1 AND pv IS NOT NULL AND (nv IS NOT NULL OR pt = es)
      |ORDER BY user_id, grid_es""".stripMargin

  // ------------------------------------------------------------------
  // Incremental aggregate maintenance (algebraic merge of a delta batch)
  // ------------------------------------------------------------------

  /** Incremental materialized-aggregate maintenance: a per-(day, type)
    * metric table kept current by MERGING a new batch's partial
    * aggregates into the stored ones — never re-scanning history. All
    * four metrics are ALGEBRAIC (count/sum add; min/max least/greatest),
    * so merge(agg(base), agg(delta)) ≡ agg(base ∪ delta); the query
    * computes both sides and PROVES the equivalence per row in its
    * `matches_full` column (decimal sums — exact, order-free — make it
    * an equality, not a tolerance).
    *
    * Scale (100 TB): this is THE pattern that turns a daily O(history)
    * recompute into O(batch): the delta aggregate touches only new
    * files (partition-pruned by ingest date), the merge is a key-equi
    * full-outer over two aggregate-sized tables (bucketed on the group
    * key at write time → exchange-free). AVG-class metrics must be
    * carried as (sum, count) pairs — the stored form here — and
    * non-algebraic metrics (exact distinct) need sketch state (HLL,
    * [[graft.ext.Similarity.qApproxDistinct]]).
    */
  def qIncrAggMaintain(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("2024-01-26").cast("timestamp")
    def aggOf(df: DataFrame): DataFrame = df
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).as("s"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
    val ev = Tables.events(spark, sfDir)
    val base = aggOf(ev.filter(col("ts") < cut))
      .withColumnsRenamed(Map("n" -> "n1", "s" -> "s1", "mn" -> "mn1", "mx" -> "mx1"))
    val delta = aggOf(ev.filter(col("ts") >= cut))
      .withColumnsRenamed(Map("n" -> "n2", "s" -> "s2", "mn" -> "mn2", "mx" -> "mx2"))
    val merged = base.join(delta, Seq("day", "event_type"), "full_outer")
      .select(col("day"), col("event_type"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n"),
        (coalesce(col("s1"), dec(lit(0))) +
          coalesce(col("s2"), dec(lit(0)))).as("s"),
        // explicit null-coalescing: DuckDB's least/greatest NULL handling
        // changed across versions — spell out the merge identically
        least(coalesce(col("mn1"), col("mn2")),
          coalesce(col("mn2"), col("mn1"))).as("mn"),
        greatest(coalesce(col("mx1"), col("mx2")),
          coalesce(col("mx2"), col("mx1"))).as("mx"))
    val full = aggOf(ev)
      .withColumnsRenamed(Map("n" -> "fn", "s" -> "fs", "mn" -> "fmn", "mx" -> "fmx"))
    merged.join(full, Seq("day", "event_type"), "full_outer")
      .select(col("day"), col("event_type"), col("n"),
        col("s").cast("double").as("total"),
        col("mn"), col("mx"),
        (col("n") === col("fn") && col("s") === col("fs") &&
          col("mn") === col("fmn") && col("mx") === col("fmx")).as("matches_full"))
      .orderBy(col("day"), col("event_type"))
  }

  val qIncrAggMaintainSql: String =
    s"""WITH base AS (
      |  SELECT date_trunc('day', ts)::DATE AS day, event_type, count(*) AS n1,
      |    sum(${decSql("value")}) AS s1, min(value) AS mn1, max(value) AS mx1
      |  FROM events WHERE ts < TIMESTAMP '2024-01-26' GROUP BY 1, 2
      |),
      |delta AS (
      |  SELECT date_trunc('day', ts)::DATE AS day, event_type, count(*) AS n2,
      |    sum(${decSql("value")}) AS s2, min(value) AS mn2, max(value) AS mx2
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-26' GROUP BY 1, 2
      |),
      |merged AS (
      |  SELECT day, event_type,
      |    COALESCE(n1, 0) + COALESCE(n2, 0) AS n,
      |    COALESCE(s1, ${decSql("0")}) + COALESCE(s2, ${decSql("0")}) AS s,
      |    least(COALESCE(mn1, mn2), COALESCE(mn2, mn1)) AS mn,
      |    greatest(COALESCE(mx1, mx2), COALESCE(mx2, mx1)) AS mx
      |  FROM base FULL OUTER JOIN delta USING (day, event_type)
      |),
      |total AS (
      |  SELECT date_trunc('day', ts)::DATE AS day, event_type, count(*) AS fn,
      |    sum(${decSql("value")}) AS fs, min(value) AS fmn, max(value) AS fmx
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT day, event_type, CAST(n AS BIGINT) AS n, CAST(s AS DOUBLE) AS total,
      |  mn, mx,
      |  (n = fn AND s = fs AND mn = fmn AND mx = fmx) AS matches_full
      |FROM merged FULL OUTER JOIN total USING (day, event_type)
      |ORDER BY day, event_type""".stripMargin

  // ------------------------------------------------------------------
  // Incremental JOIN maintenance (delta-join algebra)
  // ------------------------------------------------------------------

  /** Incremental materialized-JOIN maintenance — the join-view companion
    * of [[qIncrAggMaintain]]: a per-nation revenue view over
    * orders ⋈ customer kept current under SIMULTANEOUS deltas on both
    * sides with the classic three-term delta algebra
    * Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB (each join-key-partitioned,
    * none rescans history twice). Old orders = before the 1996-01-01
    * ingest cut; "late-arriving" customers = every 17th key. The query
    * computes the view as old-view partials merged with the three delta
    * terms' partials and PROVES per row (`matches_full`) that it equals
    * the full recompute — decimal sums make the check exact equality.
    *
    * Scale (100 TB): the production win is that ΔA and ΔB are
    * partition-pruned file sets (a day's ingest), so maintenance cost is
    * O(Δ·|B|-probe) not O(|A⋈B|): ΔA⋈B_old and A_old⋈ΔB are equi-joins
    * where one side is batch-sized (broadcast or bucket-pruned probe)
    * and ΔA⋈ΔB is batch×batch. The four partial aggregates are algebraic
    * (count/decimal-sum), so the merge is a tiny key-equi re-aggregation
    * — the same mergeability [[qIncrAggMaintain]] proves, now composed
    * through a join.
    */
  def qIncrJoinMaintain(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("1996-01-01").cast("timestamp")
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate"),
        dec(col("o_totalprice")).as("price"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val aOld = orders.filter(col("o_orderdate") < cut)
    val aDelta = orders.filter(col("o_orderdate") >= cut)
    val bOld = cust.filter(col("c_custkey") % 17 =!= 0)
    val bDelta = cust.filter(col("c_custkey") % 17 === 0)
    def partsOf(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("s"))
    // V_old ∪ ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, merged algebraically
    val merged = partsOf(aOld, bOld)
      .unionAll(partsOf(aDelta, bOld))
      .unionAll(partsOf(aOld, bDelta))
      .unionAll(partsOf(aDelta, bDelta))
      .groupBy(col("c_nationkey"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
    val full = partsOf(orders, cust)
      .withColumnsRenamed(Map("n" -> "fn", "s" -> "fs"))
    merged.join(full, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"), col("n"),
        col("s").cast("double").as("revenue"),
        (col("n") === col("fn") && col("s") === col("fs")).as("matches_full"))
      .orderBy(col("c_nationkey"))
  }

  val qIncrJoinMaintainSql: String =
    s"""WITH o AS (
      |  SELECT o_custkey, o_orderdate,
      |    ${decSql("o_totalprice")} AS price
      |  FROM orders
      |),
      |c AS (SELECT c_custkey, c_nationkey FROM customer),
      |parts AS (
      |  SELECT 'oo' AS term, c_nationkey, count(*) AS n, sum(price) AS s
      |  FROM o JOIN c ON o_custkey = c_custkey
      |  WHERE o_orderdate < TIMESTAMP '1996-01-01' AND c_custkey % 17 <> 0
      |  GROUP BY c_nationkey
      |  UNION ALL
      |  SELECT 'do', c_nationkey, count(*), sum(price)
      |  FROM o JOIN c ON o_custkey = c_custkey
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND c_custkey % 17 <> 0
      |  GROUP BY c_nationkey
      |  UNION ALL
      |  SELECT 'od', c_nationkey, count(*), sum(price)
      |  FROM o JOIN c ON o_custkey = c_custkey
      |  WHERE o_orderdate < TIMESTAMP '1996-01-01' AND c_custkey % 17 = 0
      |  GROUP BY c_nationkey
      |  UNION ALL
      |  SELECT 'dd', c_nationkey, count(*), sum(price)
      |  FROM o JOIN c ON o_custkey = c_custkey
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND c_custkey % 17 = 0
      |  GROUP BY c_nationkey
      |),
      |merged AS (
      |  SELECT c_nationkey, CAST(sum(n) AS BIGINT) AS n, sum(s) AS s
      |  FROM parts GROUP BY c_nationkey
      |),
      |total AS (
      |  SELECT c_nationkey, count(*) AS fn, sum(price) AS fs
      |  FROM o JOIN c ON o_custkey = c_custkey
      |  GROUP BY c_nationkey
      |)
      |SELECT c_nationkey, n, CAST(s AS DOUBLE) AS revenue,
      |  (n = fn AND s = fs) AS matches_full
      |FROM merged FULL OUTER JOIN total USING (c_nationkey)
      |ORDER BY c_nationkey""".stripMargin

  // ------------------------------------------------------------------
  // RFM customer segmentation (quartile scores per dimension)
  // ------------------------------------------------------------------

  /** RFM SEGMENTATION — the classic warehouse customer scoring: per
    * purchasing customer, Recency (days from last order to the corpus
    * horizon), Frequency (order count) and Monetary (exact decimal
    * revenue), each quartile-scored 1–4 by `ntile` with a deterministic
    * (metric, custkey) total order — 4 is always the best quartile
    * (recency sorts descending so most-recent lands in tile 4). Output:
    * the 4×4×4 segment grid with customer counts and revenue mass — what
    * a retention team reads to find champions (444) and at-risk big
    * spenders (1x4).
    *
    * Scale (100 TB): R/F/M collapse out of the fact table in ONE
    * customer-keyed partial agg; the ntile windows run over the
    * CUSTOMER-grain aggregate (dim-sized, not fact-sized). The three
    * windows share one global sort requirement each — at extreme
    * customer cardinality production swaps them for approx-percentile
    * breakpoints (one pass, no sort), trading exact quartile boundaries
    * for scalability; the segment grid is 64 rows regardless.
    */
  def qCustRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val horizon = Tables.orders(spark, sfDir)
      .agg(max(to_date(col("o_orderdate"))).as("h"))
    val rfm = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(dec(col("o_totalprice"))).as("monetary"))
      .crossJoin(broadcast(horizon))
      .select(col("o_custkey"), datediff(col("h"), col("last_day")).as("recency"),
        col("freq"), col("monetary"))
    val scored = rfm.select(col("o_custkey"), col("monetary"),
      ntile(4).over(Window.orderBy(col("recency").desc, col("o_custkey")))
        .as("r_score"),
      ntile(4).over(Window.orderBy(col("freq"), col("o_custkey"))).as("f_score"),
      ntile(4).over(Window.orderBy(col("monetary"), col("o_custkey")))
        .as("m_score"))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary")).cast("double").as("revenue"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val qCustRfmSql: String =
    s"""WITH rfm AS (
      |  SELECT o_custkey,
      |    date_diff('day', max(CAST(o_orderdate AS DATE)),
      |      (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)) AS recency,
      |    count(*) AS freq,
      |    sum(${decSql("o_totalprice")}) AS monetary
      |  FROM orders GROUP BY o_custkey
      |),
      |scored AS (
      |  SELECT o_custkey, monetary,
      |    CAST(ntile(4) OVER (ORDER BY recency DESC, o_custkey) AS INTEGER) AS r_score,
      |    CAST(ntile(4) OVER (ORDER BY freq, o_custkey) AS INTEGER) AS f_score,
      |    CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS INTEGER) AS m_score
      |  FROM rfm
      |)
      |SELECT r_score, f_score, m_score, count(*) AS n_customers,
      |  CAST(sum(monetary) AS DOUBLE) AS revenue
      |FROM scored GROUP BY r_score, f_score, m_score
      |ORDER BY r_score, f_score, m_score""".stripMargin

  // ------------------------------------------------------------------
  // ABC / Pareto revenue classification (inventory analytics)
  // ------------------------------------------------------------------

  /** ABC (Pareto) CLASSIFICATION of parts by discounted revenue — the
    * inventory-analytics standard: rank parts by revenue, classify the
    * prefix holding ≤80% of cumulative revenue as A, the next ≤15% as B
    * (cumulative ≤95%), the tail as C, and report each class's part
    * count, revenue mass and share. The "80/20" concentration readout
    * that prioritizes stocking, auditing and forecast effort.
    *
    * Exactness: revenue terms and the cumulative prefix sum are DECIMAL
    * (order-free, engine-identical); the class boundaries are DECIMAL
    * comparisons scaled to integers (cum·5 ≤ tot·4, cum·20 ≤ tot·19) —
    * no float enters until the reported share.
    *
    * Scale (100 TB): revenue collapses out of the fact table in one
    * part-keyed partial agg; the ranking window runs over the PART-grain
    * aggregate (dim-sized). At extreme part cardinality the exact prefix
    * sum gives way to approx-quantile revenue breakpoints (the
    * [[qCustRfm]] trade); the 3-row class rollup is unchanged.
    */
  def qPartAbc(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum(revenue(col("l_extendedprice"), col("l_discount")))
        .cast(DecimalType(21, 4)).as("rev"))
    val tot = rev.agg(sum(col("rev")).cast(DecimalType(25, 4)).as("tot"))
    val wCum = Window.orderBy(col("rev").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val classed = rev
      .withColumn("cum", sum(col("rev")).over(wCum).cast(DecimalType(25, 4)))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum") * 5 <= col("tot") * 4, "A")
          .when(col("cum") * 20 <= col("tot") * 19, "B")
          .otherwise("C"))
    classed.groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev")).cast(DecimalType(25, 4)).cast("double").as("revenue"))
      .join(broadcast(tot))
      .withColumn("revenue_share", col("revenue") / col("tot").cast("double"))
      .drop("tot")
      .orderBy(col("abc_class"))
  }

  val qPartAbcSql: String =
    s"""WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(sum(${revenueSql("l_extendedprice", "l_discount")})
      |      AS DECIMAL(21,4)) AS rev
      |  FROM lineitem GROUP BY l_partkey
      |),
      |tot AS (SELECT CAST(sum(rev) AS DECIMAL(25,4)) AS tot FROM rev),
      |classed AS (
      |  SELECT l_partkey, rev,
      |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(25,4))
      |      AS cum,
      |    tot
      |  FROM rev CROSS JOIN tot
      |)
      |SELECT
      |  CASE WHEN cum * 5 <= tot * 4 THEN 'A'
      |       WHEN cum * 20 <= tot * 19 THEN 'B'
      |       ELSE 'C' END AS abc_class,
      |  count(*) AS n_parts,
      |  CAST(CAST(sum(rev) AS DECIMAL(25,4)) AS DOUBLE) AS revenue,
      |  CAST(CAST(sum(rev) AS DECIMAL(25,4)) AS DOUBLE) / CAST(tot AS DOUBLE)
      |    AS revenue_share
      |FROM classed
      |GROUP BY abc_class, tot
      |ORDER BY abc_class""".stripMargin

  // ------------------------------------------------------------------
  // Join cardinality estimation audit (optimizer-statistics quality)
  // ------------------------------------------------------------------

  /** JOIN-CARDINALITY ESTIMATION AUDIT: for each core equi-join of the
    * schema, the System-R textbook estimate |A|·|B| / max(ndv_A, ndv_B)
    * next to the ACTUAL join cardinality and their ratio — the
    * statistics-quality check behind every cost-based join-order
    * decision (Spark CBO uses exactly these row-count × NDV stats from
    * ANALYZE TABLE). A ratio far from 1 on a production schema means the
    * optimizer is flying blind on that join (skew or correlation the
    * independence assumption misses) and is the trigger for histogram
    * stats or a manual broadcast/strategy hint.
    *
    * The estimate is computed with integer division (both engines
    * truncate identically); products stay well inside int64 at any
    * harness SF and inside exact-double range far beyond.
    *
    * Scale (100 TB): each arm is two single-pass (count, NDV) aggregates
    * — at real scale the NDVs come from HLL sketches
    * ([[graft.ext.Similarity.qApproxDistinct]] documents that trade) —
    * plus one count-only join whose plan Catalyst collapses to a
    * partial-count merge; output is one row per audited join.
    */
  def qJoinCardEst(spark: SparkSession, sfDir: String): DataFrame = {
    def arm(name: String, a: DataFrame, ka: String, b: DataFrame, kb: String): DataFrame = {
      val sa = a.agg(count(lit(1)).as("n_a"), countDistinct(col(ka)).as("d_a"))
      val sb = b.agg(count(lit(1)).as("n_b"), countDistinct(col(kb)).as("d_b"))
      val actual = a.join(b, col(ka) === col(kb)).agg(count(lit(1)).as("actual"))
      sa.crossJoin(broadcast(sb)).crossJoin(broadcast(actual))
        .select(lit(name).as("join_name"), col("n_a"), col("n_b"),
          col("d_a"), col("d_b"),
          expr("(n_a * n_b) div greatest(d_a, d_b)").as("estimated"),
          col("actual"),
          (col("actual").cast("double") /
            expr("(n_a * n_b) div greatest(d_a, d_b)").cast("double"))
            .as("actual_over_est"))
    }
    arm("customer_orders", Tables.customer(spark, sfDir), "c_custkey",
        Tables.orders(spark, sfDir), "o_custkey")
      .unionAll(arm("lineitem_orders", Tables.lineitem(spark, sfDir), "l_orderkey",
        Tables.orders(spark, sfDir), "o_orderkey"))
      .unionAll(arm("lineitem_part", Tables.lineitem(spark, sfDir), "l_partkey",
        Tables.part(spark, sfDir), "p_partkey"))
      .orderBy(col("join_name"))
  }

  val qJoinCardEstSql: String = {
    def arm(name: String, ta: String, ka: String, tb: String, kb: String): String =
      s"""SELECT '$name' AS join_name,
         |  (SELECT count(*) FROM $ta) AS n_a,
         |  (SELECT count(*) FROM $tb) AS n_b,
         |  (SELECT count(DISTINCT $ka) FROM $ta) AS d_a,
         |  (SELECT count(DISTINCT $kb) FROM $tb) AS d_b,
         |  (SELECT count(*) FROM $ta) * (SELECT count(*) FROM $tb)
         |    // greatest((SELECT count(DISTINCT $ka) FROM $ta),
         |               (SELECT count(DISTINCT $kb) FROM $tb)) AS estimated,
         |  (SELECT count(*) FROM $ta JOIN $tb ON $ka = $kb) AS actual,
         |  CAST((SELECT count(*) FROM $ta JOIN $tb ON $ka = $kb) AS DOUBLE)
         |    / CAST((SELECT count(*) FROM $ta) * (SELECT count(*) FROM $tb)
         |        // greatest((SELECT count(DISTINCT $ka) FROM $ta),
         |                   (SELECT count(DISTINCT $kb) FROM $tb)) AS DOUBLE)
         |    AS actual_over_est""".stripMargin
    Seq(
      arm("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
      arm("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      arm("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey")
    ).mkString("", "\nUNION ALL\n", "\nORDER BY join_name")
  }

  // ------------------------------------------------------------------
  // Time-weighted average: interval-weighted mean between observations
  // ------------------------------------------------------------------

  /** Time-weighted average of each user's purchase value — the TSDB
    * estimator for irregularly-sampled signals, where the plain mean
    * over-weights bursts: each observation's value counts for the time
    * until the NEXT observation (left-constant / LOCF convention, the
    * same carry rule as [[qEventLocf]]), normalized by the user's full
    * observed span. Users with one observation have no span and are
    * excluded (HAVING n ≥ 2) rather than given an arbitrary
    * denominator.
    *
    * Determinism: observations order by the full MICROSECOND key, but
    * weights are gaps truncated to MILLISECONDS — not a concession,
    * a requirement: with µs weights the decimal mass's unscaled value
    * passes 2⁵³, where DuckDB's decimal→double cast (double(unscaled) /
    * double(scale), two roundings) and the JVM's correctly-rounded
    * BigDecimal cast diverge in the last ulp. At ms weights the mass
    * stays exactly castable on both engines; the normalizer is the SAME
    * truncated-gap sum, so twa remains a true weighted mean. Values are
    * exact DECIMAL(11,2); only the single final division runs in double
    * — the [[graft.queries.Analytics.qEventValueStats]] discipline.
    *
    * Scale (100 TB): the lead pairing and the per-user aggregate key on
    * the SAME column, so Catalyst plans one user exchange for both;
    * state is one window row. Never a per-gap self-join.
    */
  def qEventTwa(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id",
        $"value".cast(DecimalType(11, 2)).as("v"),
        unix_micros($"ts").as("tu"))
      .withColumn("gap_ms", expr("(lead(tu, 1) OVER " +
        "(PARTITION BY user_id ORDER BY tu, event_id) - tu) div 1000"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_obs"),
        (max($"tu") - min($"tu")).as("span_us"),
        (sum($"v" * $"gap_ms").cast("double") /
          sum($"gap_ms").cast("double")).as("twa"),
        sum($"gap_ms").as("den_ms"))
      .filter($"n_obs" >= 2 && $"den_ms" > 0)
      .drop("den_ms")
      .orderBy($"user_id")
  }

  val qEventTwaSql: String =
    """WITH u AS (
      |  SELECT user_id, event_id, CAST(value AS DECIMAL(11,2)) AS v,
      |    epoch_us(ts) AS tu
      |  FROM events WHERE event_type = 'purchase'
      |),
      |d AS (
      |  SELECT user_id, v, tu,
      |    (lead(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) - tu) // 1000
      |      AS gap_ms
      |  FROM u
      |)
      |SELECT user_id, count(*) AS n_obs,
      |  CAST(max(tu) - min(tu) AS BIGINT) AS span_us,
      |  CAST(sum(v * gap_ms) AS DOUBLE) / CAST(sum(gap_ms) AS DOUBLE) AS twa
      |FROM d GROUP BY user_id
      |HAVING count(*) >= 2 AND sum(gap_ms) > 0
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // Right-to-be-forgotten cascade erasure with audit
  // ------------------------------------------------------------------

  /** GDPR/CCPA cascade erasure audit: given an erasure-request list of
    * customer keys (here a deterministic stand-in — every 97th key; in
    * production the request table), delete the customers, their orders,
    * and those orders' lineitems, and emit the per-table compliance
    * report a data-protection officer signs off on: rows before /
    * deleted / after, plus an orphan count proving referential closure
    * (no surviving child row points at an erased parent). The lineitem
    * orphan check deliberately takes the OTHER path to the deletion —
    * retained lineitems joined through orders to the erased-customer
    * predicate — so it validates that the two cascade routes (via the
    * order-key list vs via the customer FK) erased identical sets.
    *
    * Mechanics: the erasure list and its derived order-key list ride
    * broadcast semi/anti joins — deletion is subtraction, never a
    * rewrite of the big table's values. Counts are 1-row aggregates
    * cross-joined into the 3-row report.
    *
    * Scale (100 TB): erasure lists are small (thousands of subjects) —
    * every cascade step is a broadcast anti/semi join, so each fact
    * table is scanned ONCE with no shuffle; the derived order-key list
    * is |subjects| × orders-per-customer, still broadcastable (spill to
    * a shuffled anti join only past ~100M keys). In a lakehouse the
    * subtraction materializes as copy-on-write of only the files whose
    * min/max key stats intersect the list — the scan-prune layout
    * [[graft.etl.Layout]] plans for.
    */
  def qGdprErasure(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
    val ords = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val delC = cust.filter($"c_custkey" % 97 === 0).select($"c_custkey")
    val delO = ords.join(broadcast(delC), $"o_custkey" === $"c_custkey", "left_semi")
      .select($"o_orderkey")
    def one(name: String, before: DataFrame, deleted: DataFrame,
            orphans: DataFrame): DataFrame =
      before.agg(count(lit(1)).as("rows_before"))
        .crossJoin(deleted.agg(count(lit(1)).as("rows_deleted")))
        .crossJoin(orphans.agg(count(lit(1)).as("orphans_after")))
        .select(lit(name).as("table_name"), $"rows_before", $"rows_deleted",
          ($"rows_before" - $"rows_deleted").as("rows_after"), $"orphans_after")
    // orders orphan check: retained orders still referencing an erased customer
    val ordsOrphan = ords
      .join(broadcast(delO), Seq("o_orderkey"), "left_anti")
      .join(broadcast(delC), $"o_custkey" === $"c_custkey", "left_semi")
    // lineitem orphan check via the OTHER path: retained lineitems whose
    // order belongs to an erased customer (cross-validates the cascade)
    val liOrphan = li
      .join(broadcast(delO), $"l_orderkey" === $"o_orderkey", "left_anti")
      .join(ords.filter($"o_custkey" % 97 === 0).select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_semi")
    one("customer", cust, delC, cust.limit(0))
      .unionByName(one("orders", ords,
        ords.join(broadcast(delC), $"o_custkey" === $"c_custkey", "left_semi"),
        ordsOrphan))
      .unionByName(one("lineitem", li,
        li.join(broadcast(delO), $"l_orderkey" === $"o_orderkey", "left_semi"),
        liOrphan))
      .orderBy($"table_name")
  }

  val qGdprErasureSql: String =
    """WITH del_c AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      |del_o AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM del_c)
      |)
      |SELECT 'customer' AS table_name,
      |  (SELECT count(*) FROM customer) AS rows_before,
      |  (SELECT count(*) FROM del_c) AS rows_deleted,
      |  (SELECT count(*) FROM customer) - (SELECT count(*) FROM del_c) AS rows_after,
      |  0 AS orphans_after
      |UNION ALL
      |SELECT 'orders',
      |  (SELECT count(*) FROM orders),
      |  (SELECT count(*) FROM del_o),
      |  (SELECT count(*) FROM orders) - (SELECT count(*) FROM del_o),
      |  (SELECT count(*) FROM orders
      |   WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del_o)
      |     AND o_custkey IN (SELECT c_custkey FROM del_c))
      |UNION ALL
      |SELECT 'lineitem',
      |  (SELECT count(*) FROM lineitem),
      |  (SELECT count(*) FROM lineitem
      |   WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)),
      |  (SELECT count(*) FROM lineitem) -
      |    (SELECT count(*) FROM lineitem
      |     WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)),
      |  (SELECT count(*) FROM lineitem
      |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_o)
      |     AND l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey % 97 = 0))
      |ORDER BY table_name""".stripMargin

  // ------------------------------------------------------------------
  // k-anonymity / l-diversity audit (E330)
  // ------------------------------------------------------------------

  /** k of the k-anonymity audit: an equivalence class smaller than this
    * is re-identifiable by its quasi-identifiers alone. */
  final val kAnonK = 5L

  /** l of the l-diversity audit: a class whose sensitive attribute takes
    * fewer than this many values leaks it even when k-anonymous. */
  final val lDivL = 2L

  /** PER-CLASS K-ANONYMITY / L-DIVERSITY RELEASE VERDICT (E330) — the
    * ACTIONABLE complement of the aggregate privacy audits this repo
    * already has: E106 ([[graft.etl.Quality.qKAnonCustomer]]) reports
    * risk per generalization LEVEL, E166/E176 histogram class exposure —
    * none emits the per-class suppress/keep list a release gate actually
    * executes. Quasi-identifiers: (nation, market segment, account
    * balance band — `floor(c_acctbal / 2000)`, exact at band edges since
    * integer-multiples-of-2000 are IEEE-representable and both engines
    * divide the same doubles). Sensitive attribute: deliberately
    * CROSS-TABLE — the customer's minimum order priority joined from
    * `orders` (deterministic per customer; 'NONE' for customers with no
    * orders — absence is itself a value the class can leak). A
    * single-table audit cannot see this disclosure mode; linking
    * attacks routinely can.
    *
    * Output: one row per occupied equivalence class — size `n`,
    * `is_k_anon` (n ≥ [[kAnonK]]), `n_sensitive` (distinct sensitive
    * values in the class), `is_l_diverse` (≥ [[lDivL]]) — the table a
    * release gate consumes (suppress or generalize every class failing
    * either flag).
    *
    * Scale (100 TB): the per-customer sensitive reduction is a map-side-
    * combinable min keyed on the customer — the one unavoidable
    * entity-grain shuffle; the class roll-up partial-aggregates into the
    * BOUNDED QI domain (|nations| × |segments| × |bands| rows), so the
    * final exchange is constant-size regardless of corpus scale.
    * countDistinct over the class rides the same exchange (sensitive
    * domain is 5 priorities + 'NONE').
    */
  def qCustKAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
    val sens = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey").agg(min($"o_orderpriority").as("sens"))
    cust.select($"c_custkey", $"c_nationkey", $"c_mktsegment",
        floor($"c_acctbal" / 2000).cast("long").as("bal_band"))
      .join(sens, $"c_custkey" === $"o_custkey", "left")
      .select($"c_nationkey", $"c_mktsegment", $"bal_band",
        coalesce($"sens", lit("NONE")).as("s"))
      .groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
      .agg(count(lit(1)).as("n"), countDistinct($"s").as("n_sensitive"))
      .select($"c_nationkey", $"c_mktsegment", $"bal_band", $"n",
        ($"n" >= kAnonK).as("is_k_anon"), $"n_sensitive",
        ($"n_sensitive" >= lDivL).as("is_l_diverse"))
      .orderBy($"c_nationkey", $"c_mktsegment", $"bal_band")
  }

  val qCustKAnonymitySql: String =
    s"""WITH sens AS (
       |  SELECT o_custkey, min(o_orderpriority) AS s
       |  FROM orders GROUP BY o_custkey
       |)
       |SELECT c_nationkey, c_mktsegment,
       |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
       |  count(*) AS n, count(*) >= $kAnonK AS is_k_anon,
       |  CAST(count(DISTINCT COALESCE(s, 'NONE')) AS BIGINT) AS n_sensitive,
       |  count(DISTINCT COALESCE(s, 'NONE')) >= $lDivL AS is_l_diverse
       |FROM customer LEFT JOIN sens ON c_custkey = o_custkey
       |GROUP BY c_nationkey, c_mktsegment, bal_band
       |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin

  // ------------------------------------------------------------------
  // Pareto frontier / skyline (E148)
  // ------------------------------------------------------------------

  /** SKYLINE (Pareto frontier) per supplier nation over the two-criteria
    * space (price ↓ minimize, quantity ↑ maximize): the distinct
    * (price, quantity) offers no other offer from the same nation
    * dominates — domination being ≤ price AND ≥ quantity with at least
    * one strict. The multi-criteria "best offers" query (Börzsönyi et
    * al., ICDE 2001) that no single ORDER BY can answer.
    *
    * The 2-D frontier needs NO pairwise comparison: sort each nation's
    * distinct offers by (price ASC, qty DESC); an offer is on the
    * frontier iff its qty strictly exceeds the running max over all
    * PRECEDING rows. Every preceding row has ≤ price, so a preceding
    * qty ≥ current means domination (price-tied rows sort qty-desc, so
    * the tied max reaches the running max first); conversely a
    * dominating offer always precedes its victim in this order. One
    * window, one filter — O(n log n), not O(n²).
    *
    * Exactness: prices enter as DECIMAL(18,4) cents (the registry-wide
    * money rule) and quantities as floored BIGINT, so sort order,
    * running max and the strict compare are integer-identical in both
    * engines — a double-typed frontier could differ at ulp-tied prices.
    *
    * Scale (100 TB): the distinct collapse is the only corpus-sized
    * shuffle (map-side combinable, keyed on (nation, price, qty));
    * the window runs on |distinct offers| — bounded by the price×qty
    * value domain, not the row count — partitioned 25 ways by nation.
    * Frontier size is ≤ |distinct qty values|, tiny. The supplier→
    * nation dimension chain rides broadcast; the fact never shuffles
    * before the distinct.
    */
  def qLineSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.supplier(spark, sfDir)),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, sfDir)),
        $"s_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"),
        units($"l_extendedprice", 100)
          .as("price_c"),
        floor($"l_quantity").cast("long").as("qty"))
    // Only the max-qty offer per (nation, price) can reach the frontier:
    // under (price ASC, qty DESC) a same-price lower-qty row is preceded
    // by its price's max row, so best_prev >= qmax > qty kills it; and
    // dropping it changes no survivor's best_prev (the max row that
    // dominates it precedes every row it preceded). Aggregating to
    // max(qty) per price therefore feeds the window the identical
    // frontier with |distinct prices| rows instead of |distinct
    // (price, qty) pairs| — same single corpus-sized map-side-combinable
    // shuffle, smaller window input (oracle unchanged, swept at 3 SFs).
    val pts = raw.groupBy($"nation", $"price_c").agg(max($"qty").as("qty"))
    val wPrev = Window.partitionBy($"nation")
      .orderBy($"price_c".asc, $"qty".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.select($"nation", $"price_c", $"qty",
        max($"qty").over(wPrev).as("best_prev"))
      .filter($"best_prev".isNull || $"qty" > $"best_prev")
      .select($"nation", $"price_c", $"qty")
      .orderBy($"nation", $"price_c")
  }

  /** Oracle: the identical sort-and-running-max formulation. */
  val qLineSkylineSql: String =
    s"""WITH pts AS (
      |  SELECT DISTINCT n_name AS nation,
      |    ${unitsSql("l_extendedprice", 100)} AS price_c,
      |    CAST(floor(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |),
      |r AS (
      |  SELECT nation, price_c, qty,
      |    max(qty) OVER (PARTITION BY nation ORDER BY price_c ASC, qty DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
      |  FROM pts
      |)
      |SELECT nation, price_c, qty FROM r
      |WHERE best_prev IS NULL OR qty > best_prev
      |ORDER BY nation, price_c""".stripMargin

  // ------------------------------------------------------------------
  // Exact weighted median (E154)
  // ------------------------------------------------------------------

  /** Exact QUANTITY-WEIGHTED median unit price per supplier nation — the
    * "typical price actually paid" statistic, where the unweighted
    * median ([[graft.queries.Analytics]]'s percentile family) answers
    * the weaker "typical offer". Lower weighted median: the smallest
    * price p with 2·W(≤p) ≥ W_total over integer cent prices and
    * integer quantity weights.
    *
    * Shape: collapse to (nation, price) with summed weight — the only
    * corpus-sized shuffle, map-side combinable — then ONE per-nation
    * cumulative window and a min over the qualifying suffix. All
    * integer compares (2·cumw vs tot as BIGINT), so the selected price
    * is engine-exact including at weight ties, where an interpolating
    * definition would go non-deterministic.
    *
    * Scale (100 TB): the window runs on |nations|×|distinct prices|
    * (value-domain-bounded, like [[qLineSkyline]]); nothing after the
    * first aggregate sees a raw row.
    */
  def qWeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pts = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.supplier(spark, sfDir)),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, sfDir)),
        $"s_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"),
        units($"l_extendedprice", 100)
          .as("price_c"),
        floor($"l_quantity").cast("long").as("w"))
      .groupBy($"nation", $"price_c").agg(sum($"w").as("w"))
    val wCum = Window.partitionBy($"nation").orderBy($"price_c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"nation")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pts.select($"nation", $"price_c",
        sum($"w").over(wCum).as("cumw"), sum($"w").over(wAll).as("tot"))
      .filter(lit(2) * $"cumw" >= $"tot")
      .groupBy($"nation")
      .agg(min($"price_c").as("w_median_price_c"), max($"tot").as("total_qty"))
      .orderBy($"nation")
  }

  /** Oracle: identical cumulative-weight selection. */
  val qWeightedMedianSql: String =
    s"""WITH pts AS (
      |  SELECT n_name AS nation,
      |    ${unitsSql("l_extendedprice", 100)} AS price_c,
      |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |),
      |r AS (
      |  SELECT nation, price_c,
      |    CAST(sum(w) OVER (PARTITION BY nation ORDER BY price_c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
      |    CAST(sum(w) OVER (PARTITION BY nation) AS BIGINT) AS tot
      |  FROM pts
      |)
      |SELECT nation, min(price_c) AS w_median_price_c, max(tot) AS total_qty
      |FROM r WHERE 2 * cumw >= tot
      |GROUP BY nation ORDER BY nation""".stripMargin

  // ------------------------------------------------------------------
  // Benford first-digit audit (E157)
  // ------------------------------------------------------------------

  /** Benford probabilities log₁₀(1+1/d) as STRING literals, parsed to
    * double identically by the JVM and by DuckDB's VARCHAR→DOUBLE cast
    * (both correctly-rounded decimal parses). A native SQL decimal
    * literal would enter as DECIMAL and take a different
    * decimal→double conversion path — the [[graft.queries.Analytics]]
    * registry's 2⁵³ rule in miniature.
    */
  private[queries] val benfordP: Seq[(Int, String)] = Seq(
    1 -> "0.3010299956639812", 2 -> "0.17609125905568124",
    3 -> "0.12493873660829992", 4 -> "0.09691001300805642",
    5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
    7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
    9 -> "0.04575749056067514")

  /** Benford's-law first-digit audit over line-item amounts — the
    * classic forensic-accounting screen: naturally-arising amounts
    * spread over orders of magnitude put digit d first with probability
    * log₁₀(1+1/d); fabricated or capped data shows up as per-digit χ²
    * excess. First digits are taken from the integer CENT string (same
    * leading digit as the decimal amount, and integer→string rendering
    * is engine-identical where double formatting is not). Output: one
    * row per digit with observed count, Benford-expected count and the
    * χ² contribution — fixed-shape doubles over exact integer counts.
    *
    * Scale (100 TB): one 9-group map-side-combinable aggregate over the
    * fact; everything after runs on 9 rows (the single-partition window
    * is over those 9, never the corpus).
    */
  def qBenfordAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = Tables.lineitem(spark, sfDir)
      .select(substring(units($"l_extendedprice", 100)
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("o"))
    val pf = benfordP.map { case (d, s) => (d, s.toDouble) }.toDF("digit", "p")
    pf.join(obs, Seq("digit"), "left")
      .select($"digit", coalesce($"o", lit(0L)).as("obs"), $"p")
      .withColumn("n", sum($"obs").over(Window.partitionBy()))
      .select($"digit", $"obs",
        ($"n".cast("double") * $"p").as("expected"),
        (($"obs".cast("double") - $"n".cast("double") * $"p") *
          ($"obs".cast("double") - $"n".cast("double") * $"p") /
          ($"n".cast("double") * $"p")).as("chi2_contrib"))
      .orderBy($"digit")
  }

  /** Oracle: identical digit extraction and literal-string probability
    * parse; the 9-row VALUES frame mirrors the Spark literal relation.
    */
  val qBenfordAuditSql: String = {
    val values = benfordP
      .map { case (d, s) => s"($d, CAST('$s' AS DOUBLE))" }.mkString(", ")
    s"""WITH pf(digit, p) AS (VALUES $values),
       |obs AS (
       |  SELECT CAST(substr(CAST(${unitsSql("l_extendedprice", 100)}
       |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
       |    CAST(count(*) AS BIGINT) AS o
       |  FROM lineitem GROUP BY 1
       |),
       |j AS (
       |  SELECT pf.digit, COALESCE(o.o, 0) AS obs, pf.p,
       |    CAST(sum(COALESCE(o.o, 0)) OVER () AS BIGINT) AS n
       |  FROM pf LEFT JOIN obs o ON o.digit = pf.digit
       |)
       |SELECT digit, CAST(obs AS BIGINT) AS obs,
       |  CAST(n AS DOUBLE) * p AS expected,
       |  (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p) *
       |    (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p) /
       |    (CAST(n AS DOUBLE) * p) AS chi2_contrib
       |FROM j ORDER BY digit""".stripMargin
  }

  // ------------------------------------------------------------------
  // Revenue bridge: price effect vs volume effect vs joint
  // ------------------------------------------------------------------

  /** Period-over-period REVENUE BRIDGE (price/volume/joint waterfall)
    * per nation across the [[lifecycleBoundary]] split — the FP&A
    * decomposition ΔR = (p₂−p₁)·v₁ + p₁·(v₂−v₁) + (p₂−p₁)·(v₂−v₁)
    * with p = revenue/volume, answering "did revenue move because we
    * charged more or because we sold more": the explanation layer on
    * top of [[qCustLifecycle]]'s who-moved view. The three effects are
    * the Laspeyres price term, the volume term, and the joint
    * (interaction) term — kept separate, not folded, so the bridge
    * closes EXACTLY: effects sum to the exact-cent Δrevenue (spec-
    * asserted to the double ulp).
    *
    * Exactness: r and v accumulate as exact BIGINTs (DECIMAL cents,
    * floored units); the effects are fixed double trees over those four
    * integers — bit-equal cross-engine. `delta_cents` itself stays an
    * exact integer column.
    *
    * Scale (100 TB): ONE conditional aggregate over the orders⋈lineitem
    * join (period predicate pushed, both periods in one pass), customer
    * →nation dims on broadcasts, |nations| output rows.
    */
  def qRevBridge(spark: SparkSession, sfDir: String): DataFrame = {
    val boundary = lit(lifecycleBoundary).cast("timestamp")
    val isEarly = col("o_orderdate").cast("timestamp") < boundary
    val rev = revenue(col("l_extendedprice"), col("l_discount"))
    val grid = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
          .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("is_early", isEarly)
      .withColumn("rev", rev)
      .groupBy(col("n_name").as("nation"))
      .agg(
        // integralize at 10^-4 dollars (rev carries 4 decimals), THEN
        // integer-divide to cents — a bare *100 cast is truncate-vs-round
        // divergent cross-engine on the 2 residual decimals
        expr(s"CAST(sum(CASE WHEN is_early THEN rev ELSE ${decSql("0")} END) * 10000 AS BIGINT) div 100")
          .as("r1"),
        expr(s"CAST(sum(CASE WHEN NOT is_early THEN rev ELSE ${decSql("0")} END) * 10000 AS BIGINT) div 100")
          .as("r2"),
        sum(when(isEarly, floor(col("l_quantity")).cast("long")).otherwise(0L))
          .as("v1"),
        sum(when(!isEarly, floor(col("l_quantity")).cast("long")).otherwise(0L))
          .as("v2"))
    val p1 = col("r1").cast("double") / col("v1").cast("double")
    val p2 = col("r2").cast("double") / col("v2").cast("double")
    grid.select(col("nation"), col("r1"), col("r2"), col("v1"), col("v2"),
        (col("r2") - col("r1")).as("delta_cents"),
        when(col("v1") > 0 && col("v2") > 0,
          (p2 - p1) * col("v1").cast("double")).as("price_effect"),
        when(col("v1") > 0 && col("v2") > 0,
          p1 * (col("v2") - col("v1")).cast("double")).as("volume_effect"),
        when(col("v1") > 0 && col("v2") > 0,
          (p2 - p1) * (col("v2") - col("v1")).cast("double")).as("joint_effect"))
      .orderBy(col("nation"))
  }

  val qRevBridgeSql: String = {
    val p1 = "(CAST(r1 AS DOUBLE) / CAST(v1 AS DOUBLE))"
    val p2 = "(CAST(r2 AS DOUBLE) / CAST(v2 AS DOUBLE))"
    s"""WITH grid AS (
       |  SELECT n_name AS nation,
       |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$lifecycleBoundary'
       |      THEN ${revenueSql("l_extendedprice", "l_discount")}
       |      ELSE ${decSql("0")} END) * 10000 AS BIGINT) // 100 AS r1,
       |    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '$lifecycleBoundary'
       |      THEN ${revenueSql("l_extendedprice", "l_discount")}
       |      ELSE ${decSql("0")} END) * 10000 AS BIGINT) // 100 AS r2,
       |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$lifecycleBoundary'
       |      THEN CAST(floor(l_quantity) AS BIGINT) ELSE 0 END) AS BIGINT) AS v1,
       |    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '$lifecycleBoundary'
       |      THEN CAST(floor(l_quantity) AS BIGINT) ELSE 0 END) AS BIGINT) AS v2
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY n_name
       |)
       |SELECT nation, r1, r2, v1, v2, r2 - r1 AS delta_cents,
       |  CASE WHEN v1 > 0 AND v2 > 0
       |    THEN ($p2 - $p1) * CAST(v1 AS DOUBLE) ELSE NULL END AS price_effect,
       |  CASE WHEN v1 > 0 AND v2 > 0
       |    THEN $p1 * CAST(v2 - v1 AS DOUBLE) ELSE NULL END AS volume_effect,
       |  CASE WHEN v1 > 0 AND v2 > 0
       |    THEN ($p2 - $p1) * CAST(v2 - v1 AS DOUBLE) ELSE NULL END AS joint_effect
       |FROM grid
       |ORDER BY nation""".stripMargin
  }

  // ------------------------------------------------------------------
  // Cohort lifetime-value curve
  // ------------------------------------------------------------------

  /** Cohort LTV curve: customers grouped by FIRST-ORDER year, and for
    * every cohort age (order year − cohort year) the cohort's revenue
    * that year plus the RUNNING cumulative revenue per cohort member —
    * the curve whose flattening point answers "how long until a
    * customer has paid back acquisition", the longitudinal companion
    * of [[qCustRfm]] (point-in-time value) and
    * [[graft.queries.Analytics.qEventCohortRetention]] (activity
    * retention; this is the MONEY retention).
    *
    * Exactness: cohort assignment is an exact min over order years;
    * revenue sums as DECIMAL→BIGINT cents; the cumulative division is
    * one double per row over exact integers.
    *
    * Scale (100 TB): one custkey-keyed aggregate for cohort assignment,
    * one broadcast-joined (cohort, age) aggregate over the orders scan,
    * and a window over the |years|² cohort-age grid (dim-sized by
    * construction — years, not customers).
    */
  def qCohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        year(col("o_orderdate").cast("timestamp")).as("yr"),
        units(col("o_totalprice"), 100).as("cents"))
    val cohorts = orders.groupBy(col("o_custkey"))
      .agg(min(col("yr")).cast("long").as("cohort_year"))
    val sizes = cohorts.groupBy(col("cohort_year"))
      .agg(count(lit(1)).as("n_customers"))
    val grid = orders.join(cohorts, "o_custkey")
      .groupBy(col("cohort_year"), (col("yr").cast("long") - col("cohort_year")).as("age"))
      .agg(sum(col("cents")).as("revenue_cents"))
    val w = Window.partitionBy(col("cohort_year")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(broadcast(sizes), "cohort_year")
      .select(col("cohort_year"), col("age"), col("n_customers"),
        col("revenue_cents"),
        (sum(col("revenue_cents")).over(w).cast("double") /
          (col("n_customers") * 100L).cast("double")).as("cum_ltv_usd"))
      .orderBy(col("cohort_year"), col("age"))
  }

  val qCohortLtvSql: String =
    s"""WITH o AS (
      |  SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS yr,
      |    ${unitsSql("o_totalprice", 100)} AS cents
      |  FROM orders
      |),
      |cohorts AS (
      |  SELECT o_custkey, CAST(min(yr) AS BIGINT) AS cohort_year
      |  FROM o GROUP BY o_custkey
      |),
      |sizes AS (
      |  SELECT cohort_year, count(*) AS n_customers FROM cohorts GROUP BY cohort_year
      |),
      |grid AS (
      |  SELECT cohort_year, CAST(yr - cohort_year AS BIGINT) AS age,
      |    CAST(sum(cents) AS BIGINT) AS revenue_cents
      |  FROM o JOIN cohorts USING (o_custkey)
      |  GROUP BY cohort_year, yr - cohort_year
      |)
      |SELECT cohort_year, age, n_customers, revenue_cents,
      |  CAST(sum(revenue_cents) OVER (PARTITION BY cohort_year ORDER BY age
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
      |    CAST(n_customers * 100 AS DOUBLE) AS cum_ltv_usd
      |FROM grid JOIN sizes USING (cohort_year)
      |ORDER BY cohort_year, age""".stripMargin

  // ------------------------------------------------------------------
  // Bitemporal as-of: what did we believe, and when did we learn it?
  // ------------------------------------------------------------------

  /** Transaction-time stamps (epoch-day integers) and the two audit
    * observation points. Literal RHS `final` per the init-cycle rule.
    */
  final val btTxBase = 19700L
  final val btTxCorrection = 19731L
  final val btAsOfT1 = 19715L
  final val btAsOfT2 = 19760L

  /** BITEMPORAL as-of readout — the audit question SCD2 alone cannot
    * answer: [[qScd2Customer]] tracks when a value was TRUE (valid
    * time); this adds when we KNEW it (transaction time), so
    * "reproduce the report exactly as it looked on date T" works even
    * after retroactive corrections land. The version store is the
    * customer file plus injected retroactive corrections (every 10th
    * customer restates the SAME valid period with +100 balance at a
    * later transaction time — the classic late-arriving correction).
    * The query reads the ledger at [[btAsOfT1]] (before corrections
    * arrived) and [[btAsOfT2]] (after), per nation: identical valid
    * time, different knowledge time — the T2−T1 delta IS the restated
    * money, and a regulator asking "what did you report in January"
    * gets the T1 numbers back bit-for-bit.
    *
    * Exactness: balances as DECIMAL→BIGINT cents; as-of version pick is
    * `max_by(bal, tx) FILTER (WHERE tx ≤ T)` — transaction stamps are
    * unique per key, so the argmax is total-ordered; both engines
    * support the standard FILTER clause.
    *
    * Scale (100 TB): version stores shuffle once on the entity key
    * (both as-of picks are ONE conditional aggregate in that pass);
    * the nation rollup is dim-grain. No windows over the ledger, no
    * per-T rescans — add observation points as extra agg columns, not
    * extra passes.
    */
  def qCustBitemporal(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = units(col("c_acctbal"), 100)
    val baseV = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"), cents.as("bal_c"),
        lit(btTxBase).as("tx"))
    val corrections = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_nationkey"),
        (cents + 10000L).as("bal_c"), lit(btTxCorrection).as("tx"))
    val ledger = baseV.unionAll(corrections)
    val perCust = ledger.groupBy(col("c_custkey"), col("c_nationkey"))
      .agg(
        expr(s"max_by(bal_c, tx) FILTER (WHERE tx <= $btAsOfT1)").as("bal_t1"),
        expr(s"max_by(bal_c, tx) FILTER (WHERE tx <= $btAsOfT2)").as("bal_t2"))
    perCust.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("bal_t1") =!= col("bal_t2"), 1L).otherwise(0L))
          .as("n_restated"),
        sum(col("bal_t1")).as("total_t1_cents"),
        sum(col("bal_t2")).as("total_t2_cents"))
      .select(col("c_nationkey"), col("n_customers"), col("n_restated"),
        col("total_t1_cents"), col("total_t2_cents"),
        (col("total_t2_cents") - col("total_t1_cents")).as("restated_cents"))
      .orderBy(col("c_nationkey"))
  }

  val qCustBitemporalSql: String =
    s"""WITH ledger AS (
       |  SELECT c_custkey, c_nationkey,
       |    ${unitsSql("c_acctbal", 100)} AS bal_c,
       |    $btTxBase AS tx
       |  FROM customer
       |  UNION ALL
       |  SELECT c_custkey, c_nationkey,
       |    ${unitsSql("c_acctbal", 100)} + 10000 AS bal_c,
       |    $btTxCorrection AS tx
       |  FROM customer WHERE c_custkey % 10 = 0
       |),
       |per_cust AS (
       |  SELECT c_custkey, c_nationkey,
       |    arg_max(bal_c, tx) FILTER (WHERE tx <= $btAsOfT1) AS bal_t1,
       |    arg_max(bal_c, tx) FILTER (WHERE tx <= $btAsOfT2) AS bal_t2
       |  FROM ledger GROUP BY c_custkey, c_nationkey
       |)
       |SELECT c_nationkey, count(*) AS n_customers,
       |  CAST(sum(CASE WHEN bal_t1 <> bal_t2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_restated,
       |  CAST(sum(bal_t1) AS BIGINT) AS total_t1_cents,
       |  CAST(sum(bal_t2) AS BIGINT) AS total_t2_cents,
       |  CAST(sum(bal_t2) - sum(bal_t1) AS BIGINT) AS restated_cents
       |FROM per_cust
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  // ------------------------------------------------------------------
  // Customer lifecycle migration: who was retained, churned, acquired?
  // ------------------------------------------------------------------

  /** Period boundary for the lifecycle split (orders strictly before = early
    * period; testdata orders span 1995–2001, so both periods are populated). */
  final val lifecycleBoundary = "1998-01-01"

  /** Customer lifecycle migration matrix across the
    * [[lifecycleBoundary]] split: every customer classified by order
    * presence in the early vs late period — `retained` (both),
    * `churned` (early only), `acquired` (late only), `never` (on the
    * customer file, zero orders) — with order counts and exact-decimal
    * revenue per state. The period-over-period movement table behind
    * every retention dashboard, and the state layer the [[qCustRfm]]
    * scores snapshot at a single instant cannot show: RFM says who is
    * valuable NOW, this says which way they are MOVING.
    *
    * Exactness: presence flags and order counts are exact integer
    * conditional aggregates; revenue sums as DECIMAL(18,4) cents-exact
    * money (the registry rule) and is emitted ×100 as BIGINT cents.
    *
    * Scale (100 TB): ONE custkey-keyed conditional aggregate over the
    * orders scan (map-side combined — the period predicate is a pushed
    * column compare, not two scans), a RIGHT OUTER probe of the
    * customer dimension to surface the `never` rows, then a 4-row
    * state rollup. No windows; the fact never shuffles twice.
    */
  def qCustLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val boundary = lit(lifecycleBoundary).cast("timestamp")
    val perCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(col("o_orderdate").cast("timestamp") < boundary, 1L).otherwise(0L)).as("n_early"),
        sum(when(col("o_orderdate").cast("timestamp") >= boundary, 1L).otherwise(0L)).as("n_late"),
        sum(dec(col("o_totalprice"))).as("rev"))
    val states = Tables.customer(spark, sfDir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(
        when(col("n_early").isNull, "never")
          .when(col("n_early") > 0 && col("n_late") > 0, "retained")
          .when(col("n_early") > 0, "churned")
          .otherwise("acquired").as("state"),
        coalesce(col("n_early"), lit(0L)).as("n_early"),
        coalesce(col("n_late"), lit(0L)).as("n_late"),
        coalesce(col("rev"), dec(lit(0))).as("rev"))
    states.groupBy(col("state"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("n_early")).as("early_orders"),
        sum(col("n_late")).as("late_orders"),
        (sum(col("rev")) * 100).cast("long").as("revenue_cents"))
      .orderBy(col("state"))
  }

  val qCustLifecycleSql: String =
    s"""WITH per_cust AS (
       |  SELECT o_custkey,
       |    sum(CASE WHEN o_orderdate < TIMESTAMP '$lifecycleBoundary' THEN 1 ELSE 0 END) AS n_early,
       |    sum(CASE WHEN o_orderdate >= TIMESTAMP '$lifecycleBoundary' THEN 1 ELSE 0 END) AS n_late,
       |    sum(${decSql("o_totalprice")}) AS rev
       |  FROM orders GROUP BY o_custkey
       |),
       |states AS (
       |  SELECT
       |    CASE WHEN n_early IS NULL THEN 'never'
       |         WHEN n_early > 0 AND n_late > 0 THEN 'retained'
       |         WHEN n_early > 0 THEN 'churned'
       |         ELSE 'acquired' END AS state,
       |    COALESCE(n_early, 0) AS n_early,
       |    COALESCE(n_late, 0) AS n_late,
       |    COALESCE(rev, ${decSql("0")}) AS rev
       |  FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
       |)
       |SELECT state, count(*) AS n_customers,
       |  CAST(sum(n_early) AS BIGINT) AS early_orders,
       |  CAST(sum(n_late) AS BIGINT) AS late_orders,
       |  CAST(sum(rev) * 100 AS BIGINT) AS revenue_cents
       |FROM states
       |GROUP BY state
       |ORDER BY state""".stripMargin

  // ------------------------------------------------------------------
  // Supplier-concentration audit: Herfindahl–Hirschman index per nation
  // ------------------------------------------------------------------

  /** Revenue quantization for the HHI: k$ units, as integer division of
    * exact 10⁻⁴-dollar units (DECIMAL cents-of-cents → BIGINT). Literal
    * RHS `final` per the init-cycle rule (interpolated into oracle SQL).
    */
  final val hhiKusdUnit = 10000000L

  /** Supplier-revenue concentration per nation as the Herfindahl–
    * Hirschman index — the antitrust-standard concentration measure
    * (HHI = 10⁴·Σ shareᵢ², 10⁴ = monopoly), here answering the
    * supply-chain question "which nations' supply depends on one or two
    * suppliers": the risk readout [[qPartAbc]] gives for parts and
    * [[graft.ext.CorpusOps.qDocSourceGini]] gives for corpus sources,
    * at the supplier grain.
    *
    * Exactness: revenue accumulates as exact DECIMAL
    * (extprice·(1−discount), the registry money rule), converts to
    * integral 10⁻⁴-dollar BIGINT units, then quantizes to k$ by integer
    * division ([[hhiKusdUnit]]) — identical floors in both engines.
    * HHI numerator Σrᵢ² and denominator (Σrᵢ)² stay exact BIGINTs; the
    * one double division happens on identical integers, and the
    * DOJ-threshold class (2500 / 1500) is decided by INTEGER cross-
    * multiplication, never a float compare. Bounds: at k$ resolution
    * int64 carries Σr² past 10⁶ suppliers × 10⁹ k$ each — raise
    * [[hhiKusdUnit]] with SF if a nation's revenue nears 3·10⁹ k$.
    *
    * Scale (100 TB): ONE corpus-sized shuffle (the suppkey-keyed
    * partial agg — map-side combined); the nation roll-up runs on the
    * supplier-grain frame (dim-sized), and the supplier→nation
    * dimension chain rides a broadcast into the first agg's output,
    * never the fact scan.
    */
  def qSuppHhi(spark: SparkSession, sfDir: String): DataFrame = {
    val bySupp = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"),
        revenue(col("l_extendedprice"), col("l_discount")).as("rev"))
      .groupBy(col("l_suppkey"))
      .agg(((sum(col("rev")) * 10000).cast("long")).as("units"))
      .select(col("l_suppkey"), expr(s"units div $hhiKusdUnit").as("r"))
    val byNation = bySupp
      .join(broadcast(Tables.supplier(spark, sfDir)
          .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("r")).as("rev_kusd"),
        sum(col("r") * col("r")).as("hhi_num"))
    byNation
      .select(col("nation"), col("n_suppliers"), col("rev_kusd"), col("hhi_num"),
        when(col("rev_kusd") > 0,
          (lit(10000.0) * col("hhi_num").cast("double")) /
            (col("rev_kusd") * col("rev_kusd")).cast("double"))
          .otherwise(lit(0.0)).as("hhi"),
        when(col("hhi_num") * 10000L > col("rev_kusd") * col("rev_kusd") * 2500L,
            lit("high"))
          .when(col("hhi_num") * 10000L > col("rev_kusd") * col("rev_kusd") * 1500L,
            lit("moderate"))
          .otherwise(lit("low")).as("conc_class"))
      .orderBy(col("nation"))
  }

  val qSuppHhiSql: String =
    s"""WITH by_supp AS (
       |  SELECT l_suppkey,
       |    CAST(sum(${revenueSql("l_extendedprice", "l_discount")}) * 10000
       |      AS BIGINT) // $hhiKusdUnit AS r
       |  FROM lineitem GROUP BY l_suppkey
       |),
       |by_nation AS (
       |  SELECT n_name AS nation, count(*) AS n_suppliers,
       |    CAST(sum(r) AS BIGINT) AS rev_kusd,
       |    CAST(sum(r * r) AS BIGINT) AS hhi_num
       |  FROM by_supp
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY n_name
       |)
       |SELECT nation, n_suppliers, rev_kusd, hhi_num,
       |  CASE WHEN rev_kusd > 0
       |    THEN (CAST(10000.0 AS DOUBLE) * CAST(hhi_num AS DOUBLE)) /
       |         CAST(rev_kusd * rev_kusd AS DOUBLE)
       |    ELSE CAST(0.0 AS DOUBLE) END AS hhi,
       |  CASE WHEN hhi_num * 10000 > rev_kusd * rev_kusd * 2500 THEN 'high'
       |       WHEN hhi_num * 10000 > rev_kusd * rev_kusd * 1500 THEN 'moderate'
       |       ELSE 'low' END AS conc_class
       |FROM by_nation
       |ORDER BY nation""".stripMargin

  // ------------------------------------------------------------------
  // Discount elasticity: does a deeper discount actually move volume?
  // ------------------------------------------------------------------

  /** DISCOUNT ELASTICITY per brand — the OLS slope of quantity on
    * discount depth across a brand's line items, plus the midpoint
    * elasticity (slope · x̄/ȳ) that turns the slope into the
    * dimensionless "1% deeper discount ⇒ e% more units" number pricing
    * teams quote. The exact-moments form of the ordinary-least-squares
    * fit: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), with every moment an
    * exact BIGINT (discount snapped to integer points via
    * floor(d·100 + 0.5) — the 0–10 point grid is exact under that
    * rounding in both engines; quantity is integral by construction).
    * Companion to [[graft.queries.Analytics]]'s Theil-Sen slope: this
    * is the parametric fit, that one the robust fit.
    *
    * Exactness: all five moments are BIGINT; slope and elasticity are
    * formed from the moments in the SAME expression shape in both
    * engines (one integer numerator/denominator pair, then one double
    * division; elasticity = slope · (Σx/Σy) as a second double product)
    * so the hash compare is byte-stable.
    *
    * Scale (100 TB): one partkey equi-join (brand lookup; part is ~1/30
    * of lineitem and only (partkey, brand) survives pruning — broadcast
    * at bench SF, shuffle-join under AQE beyond that) and one 25-group
    * aggregate with map-side partials. Moment magnitude: nΣxy grows as
    * n², crossing 2^63 near n≈10⁹ rows per brand — at that scale widen
    * the moment sums to DECIMAL(38,0) before the products (the formula
    * is unchanged); at bench SFs BIGINT is exact with 10⁶× headroom.
    */
  def qDiscountElasticity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir).select($"l_partkey",
      floor($"l_discount" * 100 + 0.5).cast("long").as("x"),
      floor($"l_quantity" + 0.5).cast("long").as("y"))
    val brands = Tables.part(spark, sfDir).select($"p_partkey", $"p_brand")
    val m = li.join(broadcast(brands), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
    m.select($"p_brand", $"n", $"sx", $"sy",
        ($"n" * $"sxy" - $"sx" * $"sy").as("numer"),
        ($"n" * $"sxx" - $"sx" * $"sx").as("denom"))
      .select($"p_brand", $"n",
        ($"sx".cast("double") / $"n").as("mean_disc_pts"),
        ($"sy".cast("double") / $"n").as("mean_qty"),
        ($"numer".cast("double") / $"denom".cast("double")).as("slope_qty_per_pt"),
        (($"numer".cast("double") / $"denom".cast("double")) *
          ($"sx".cast("double") / $"sy".cast("double"))).as("elasticity"))
      .orderBy($"p_brand")
  }

  val qDiscountElasticitySql: String =
    """WITH pts AS (
      |  SELECT p_brand,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x,
      |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |),
      |m AS (
      |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM pts GROUP BY p_brand
      |),
      |nd AS (
      |  SELECT p_brand, n, sx, sy,
      |    n * sxy - sx * sy AS numer, n * sxx - sx * sx AS denom
      |  FROM m
      |)
      |SELECT p_brand, n,
      |  CAST(sx AS DOUBLE) / n AS mean_disc_pts,
      |  CAST(sy AS DOUBLE) / n AS mean_qty,
      |  CAST(numer AS DOUBLE) / CAST(denom AS DOUBLE) AS slope_qty_per_pt,
      |  (CAST(numer AS DOUBLE) / CAST(denom AS DOUBLE)) *
      |    (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) AS elasticity
      |FROM nd
      |ORDER BY p_brand""".stripMargin

  // ------------------------------------------------------------------
  // Brand return-rate scorecard with Wilson intervals
  // ------------------------------------------------------------------

  /** BRAND RETURN-RATE SCORECARD — per brand, the returned-line share
    * with its 95% Wilson interval and a flag for brands whose WHOLE
    * interval sits above the corpus-wide rate. The supplier-quality
    * twin of the source-quality CI audit ([[graft.ext.TextOps]]'
    * qSrcQualityCi — same interval mathematics, deliberately): raw
    * return rates over small brands are noise, and acting on them
    * without the interval is how good brands get delisted — the
    * `worse_ci` flag is the defensible cut.
    *
    * Exactness: counts are BIGINTs; the Wilson bound is the same
    * fixed-shape double expression on both sides (z² as the literal
    * 3.8416), so the hash compare is byte-stable.
    *
    * Scale (100 TB): one partkey equi-join (brand lookup broadcast at
    * bench SF) and one 25-group conditional aggregate with map-side
    * partials.
    */
  def qBrandReturnRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val z2 = lit(3.8416)
    val byBrand = Tables.lineitem(spark, sfDir)
      .select($"l_partkey",
        when($"l_returnflag" === "R", 1L).otherwise(0L).as("ret"))
      .join(broadcast(Tables.part(spark, sfDir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_lines"), sum($"ret").as("n_returned"))
    val tot = byBrand.agg(sum($"n_lines").as("gn"), sum($"n_returned").as("gk"))
    val p = $"n_returned".cast("double") / $"n_lines".cast("double")
    val nD = $"n_lines".cast("double")
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = (sqrt(z2) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))) / denom
    val gp = $"gk".cast("double") / $"gn".cast("double")
    byBrand.crossJoin(broadcast(tot))
      .select($"p_brand", $"n_lines", $"n_returned",
        p.as("return_rate"),
        (center - half).as("wilson_lo"),
        (center + half).as("wilson_hi"),
        gp.as("global_rate"),
        (gp < center - half).as("worse_ci"))
      .orderBy($"p_brand")
  }

  val qBrandReturnRateSql: String = {
    val p = "(CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE))"
    val nD = "CAST(n_lines AS DOUBLE)"
    val z2 = "CAST(3.8416 AS DOUBLE)"
    val denom = s"(CAST(1.0 AS DOUBLE) + $z2 / $nD)"
    val center = s"(($p + $z2 / (CAST(2.0 AS DOUBLE) * $nD)) / $denom)"
    val half = s"((sqrt($z2) * sqrt($p * (CAST(1.0 AS DOUBLE) - $p) / $nD + " +
      s"$z2 / (CAST(4.0 AS DOUBLE) * $nD * $nD))) / $denom)"
    val gp = "(CAST(gk AS DOUBLE) / CAST(gn AS DOUBLE))"
    s"""WITH by_brand AS (
       |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_returned
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_brand
       |),
       |tot AS (
       |  SELECT CAST(sum(n_lines) AS BIGINT) AS gn,
       |    CAST(sum(n_returned) AS BIGINT) AS gk
       |  FROM by_brand
       |)
       |SELECT p_brand, n_lines, n_returned,
       |  $p AS return_rate,
       |  $center - $half AS wilson_lo,
       |  $center + $half AS wilson_hi,
       |  $gp AS global_rate,
       |  ($gp < $center - $half) AS worse_ci
       |FROM by_brand CROSS JOIN tot
       |ORDER BY p_brand""".stripMargin
  }

  // ------------------------------------------------------------------
  // Trade-balance matrix: domestic vs cross-nation revenue flows
  // ------------------------------------------------------------------

  /** NATION TRADE BALANCE — per nation, revenue split into domestic
    * (customer and supplier in the same nation), exports (this
    * nation's suppliers selling to foreign customers) and imports
    * (this nation's customers buying from foreign suppliers), with
    * the balance and export share. The full-matrix generalization of
    * the reference-family pair views (Q7 fixes two nations, Q8 one
    * market): every nation's row in one pass, which is what makes the
    * domestic-subgraph analyses ([[graft.ext.Graph]]'s labelprop
    * family) quantitatively grounded — this measures how much revenue
    * those domestic blobs actually carry.
    *
    * Exactness: revenue accumulates as DECIMAL(18,4) (the module's
    * money discipline) and lands as exact basis-point BIGINTs; shares
    * and the balance are integer differences and single divisions.
    *
    * Scale (100 TB): one lineitem⋈orders join keyed on orderkey (the
    * corpus exchange), nation lookups broadcast, then a 25-group
    * conditional rollup with map-side partials.
    */
  def qNationTradeBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rev = revenue(col("l_extendedprice"), col("l_discount"))
    val flows = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, sfDir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .select($"c_nationkey", $"s_nationkey", rev.as("rev"))
    val byNation = Tables.nation(spark, sfDir)
      .select($"n_nationkey", $"n_name")
    val perNation = flows
      .select(explode(array(
        struct($"s_nationkey".as("nk"),
          when($"c_nationkey" === $"s_nationkey", $"rev")
            .otherwise(dec(lit(0))).as("dom"),
          when($"c_nationkey" =!= $"s_nationkey", $"rev")
            .otherwise(dec(lit(0))).as("exp"),
          dec(lit(0)).as("imp")),
        struct($"c_nationkey".as("nk"),
          dec(lit(0)).as("dom"),
          dec(lit(0)).as("exp"),
          when($"c_nationkey" =!= $"s_nationkey", $"rev")
            .otherwise(dec(lit(0))).as("imp")))).as("f"))
      .select($"f.nk".as("nk"), $"f.dom".as("dom"), $"f.exp".as("exp"),
        $"f.imp".as("imp"))
      .groupBy($"nk")
      .agg((sum($"dom") * 10000).cast("long").as("domestic_bp"),
        (sum($"exp") * 10000).cast("long").as("export_bp"),
        (sum($"imp") * 10000).cast("long").as("import_bp"))
    perNation.join(broadcast(byNation), $"nk" === $"n_nationkey")
      .select($"n_name".as("nation"), $"domestic_bp", $"export_bp", $"import_bp",
        ($"export_bp" - $"import_bp").as("balance_bp"),
        // a nation whose suppliers sold nothing (possible at tiny SFs)
        // reports 0.0 — identically in the oracle — not divide-by-zero
        when($"domestic_bp" + $"export_bp" > 0,
          $"export_bp".cast("double") /
            ($"domestic_bp" + $"export_bp").cast("double"))
          .otherwise(lit(0.0)).as("export_share"))
      .orderBy($"nation")
  }

  val qNationTradeBalanceSql: String =
    s"""WITH flows AS (
      |  SELECT c_nationkey, s_nationkey,
      |    ${revenueSql("l_extendedprice", "l_discount")} AS rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |),
      |per_nation AS (
      |  SELECT nk,
      |    CAST(sum(dom) * 10000 AS BIGINT) AS domestic_bp,
      |    CAST(sum(exp) * 10000 AS BIGINT) AS export_bp,
      |    CAST(sum(imp) * 10000 AS BIGINT) AS import_bp
      |  FROM (
      |    SELECT s_nationkey AS nk,
      |      CASE WHEN c_nationkey = s_nationkey THEN rev ELSE 0 END AS dom,
      |      CASE WHEN c_nationkey <> s_nationkey THEN rev ELSE 0 END AS exp,
      |      0 AS imp
      |    FROM flows
      |    UNION ALL
      |    SELECT c_nationkey AS nk, 0 AS dom, 0 AS exp,
      |      CASE WHEN c_nationkey <> s_nationkey THEN rev ELSE 0 END AS imp
      |    FROM flows)
      |  GROUP BY nk
      |)
      |SELECT n_name AS nation, domestic_bp, export_bp, import_bp,
      |  export_bp - import_bp AS balance_bp,
      |  CASE WHEN domestic_bp + export_bp > 0
      |    THEN CAST(export_bp AS DOUBLE) / (domestic_bp + export_bp)
      |    ELSE CAST(0.0 AS DOUBLE) END AS export_share
      |FROM per_nation JOIN nation ON nk = n_nationkey
      |ORDER BY nation""".stripMargin

  // ------------------------------------------------------------------
  // Reorder cadence: how regular is repeat purchasing?
  // ------------------------------------------------------------------

  /** REORDER CADENCE per market segment — inter-order gap statistics
    * (mean gap and the variance/mean DISPERSION INDEX) over each
    * repeat customer's consecutive order dates. The demand-process
    * diagnostic behind every replenishment forecast: dispersion ≈ mean
    * says order arrivals are memoryless (exponential gaps — forecast
    * with a rate), far above says bursty (forecast bursts), far below
    * says scheduled (forecast a calendar). The order-stream sibling of
    * the event-stream burstiness audit, at the grain planners actually
    * buy against.
    *
    * Exactness: gaps are exact epoch-day BIGINTs off one
    * customer-partitioned lag window ((date, orderkey) order — same-day
    * orders give deterministic zero gaps); the mean and the dispersion
    * D = (nΣg² − (Σg)²)/(n·Σg) are single divisions of exact BIGINT
    * moments. n·Σg² crosses 2^63 near 10⁶ gaps/segment at these gap
    * magnitudes — past that widen the product to DECIMAL(38,0).
    *
    * Scale (100 TB): one customer-partitioned window over orders and
    * one 5-group rollup, both map-side-combinable after the window's
    * customer-keyed exchange.
    */
  def qCustCadence(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"day", $"o_orderkey")
    val gaps = Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_orderkey",
        epochDay(to_date($"o_orderdate".cast("timestamp"))).as("day"))
      .select($"o_custkey", ($"day" - lag($"day", 1).over(w)).as("g"))
      .filter($"g".isNotNull)
    val seg = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment")
    gaps.join(seg, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(countDistinct($"o_custkey").as("n_repeat_cust"),
        count(lit(1)).as("n_gaps"),
        sum($"g").as("sg"), sum($"g" * $"g").as("sgg"))
      .select($"c_mktsegment", $"n_repeat_cust", $"n_gaps",
        ($"sg".cast("double") / $"n_gaps").as("mean_gap_days"),
        (($"n_gaps" * $"sgg" - $"sg" * $"sg").cast("double") /
          ($"n_gaps" * $"sg").cast("double")).as("dispersion"))
      .orderBy($"c_mktsegment")
  }

  val qCustCadenceSql: String =
    s"""WITH days AS (
      |  SELECT o_custkey, o_orderkey,
      |    ${epochDaySql("CAST(o_orderdate AS DATE)")} AS day
      |  FROM orders
      |),
      |gaps AS (
      |  SELECT o_custkey,
      |    day - lag(day, 1) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS g
      |  FROM days
      |),
      |agg AS (
      |  SELECT c_mktsegment, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_repeat_cust,
      |    CAST(count(*) AS BIGINT) AS n_gaps,
      |    CAST(sum(g) AS BIGINT) AS sg, CAST(sum(g * g) AS BIGINT) AS sgg
      |  FROM gaps JOIN customer ON o_custkey = c_custkey
      |  WHERE g IS NOT NULL
      |  GROUP BY c_mktsegment
      |)
      |SELECT c_mktsegment, n_repeat_cust, n_gaps,
      |  CAST(sg AS DOUBLE) / n_gaps AS mean_gap_days,
      |  CAST(n_gaps * sgg - sg * sg AS DOUBLE) / CAST(n_gaps * sg AS DOUBLE)
      |    AS dispersion
      |FROM agg
      |ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------
  // ABC value-class migration matrix
  // ------------------------------------------------------------------

  /** ABC VALUE-CLASS MIGRATION — classify every customer A/B/C within
    * each order year (A = first 70% of cumulative revenue, B = next
    * 20%, C = tail, exact integer cumulative-share compares over the
    * deterministic (revenue DESC, custkey) order), then count the
    * year-over-year class transitions for customers active in both
    * years. The DYNAMIC layer the static concentration views lack:
    * [[graft.queries.Analytics]]'s RFM and the part-side ABC say who
    * matters NOW — the migration matrix says whether A-customers stay
    * A (a stable franchise) or churn through (a leaky bucket), which
    * decides whether "top customers" is a list worth investing in.
    *
    * Exactness: per-(year, customer) revenue is exact cents; class
    * assignment uses cum·10 ≤ 7·tot style integer cross-multiplication
    * (never a double share compare); transition counts and shares are
    * BIGINTs and single divisions.
    *
    * Scale (100 TB): one (year, customer) aggregate over orders
    * (map-side combined), year-partitioned windows at customer grain,
    * and a customer-keyed self-join between adjacent years. The
    * within-year cumulative window is the standard ABC shape — ranked
    * within year partitions, never global.
    */
  def qCustAbcMigration(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cy = Tables.orders(spark, sfDir)
      .select(year(to_date($"o_orderdate".cast("timestamp"))).cast("long").as("yr"),
        $"o_custkey",
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("r_c"))
      .groupBy($"yr", $"o_custkey")
      .agg(sum($"r_c").as("rev"))
    val w = Window.partitionBy($"yr").orderBy($"rev".desc, $"o_custkey")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tw = Window.partitionBy($"yr")
    val classed = cy
      .select($"yr", $"o_custkey", $"rev",
        sum($"rev").over(w).as("cum"), sum($"rev").over(tw).as("tot"))
      .select($"yr", $"o_custkey",
        when($"cum" * 10 <= $"tot" * 7, "A")
          .when($"cum" * 10 <= $"tot" * 9, "B")
          .otherwise("C").as("cls"))
    val from = classed.select($"yr", $"o_custkey".as("ck"), $"cls".as("from_class"))
    val to = classed.select(($"yr" - 1).as("yr"), $"o_custkey".as("ck2"),
      $"cls".as("to_class"))
    val trans = from.join(to, $"ck" === $"ck2" && from("yr") === to("yr"))
      .groupBy(from("yr").as("year_from"), $"from_class", $"to_class")
      .agg(count(lit(1)).as("n_customers"))
    val rowTot = Window.partitionBy($"year_from", $"from_class")
    trans
      .withColumn("share",
        $"n_customers".cast("double") /
          sum($"n_customers").over(rowTot).cast("double"))
      .orderBy($"year_from", $"from_class", $"to_class")
  }

  val qCustAbcMigrationSql: String =
    """WITH cy AS (
      |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr, o_custkey,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1, 2
      |),
      |classed AS (
      |  SELECT yr, o_custkey,
      |    CASE WHEN cum * 10 <= tot * 7 THEN 'A'
      |         WHEN cum * 10 <= tot * 9 THEN 'B'
      |         ELSE 'C' END AS cls
      |  FROM (
      |    SELECT yr, o_custkey, rev,
      |      CAST(sum(rev) OVER (PARTITION BY yr ORDER BY rev DESC, o_custkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |      CAST(sum(rev) OVER (PARTITION BY yr) AS BIGINT) AS tot
      |    FROM cy)
      |),
      |trans AS (
      |  SELECT f.yr AS year_from, f.cls AS from_class, t.cls AS to_class,
      |    CAST(count(*) AS BIGINT) AS n_customers
      |  FROM classed f JOIN classed t
      |    ON f.o_custkey = t.o_custkey AND t.yr = f.yr + 1
      |  GROUP BY f.yr, f.cls, t.cls
      |)
      |SELECT year_from, from_class, to_class, n_customers,
      |  CAST(n_customers AS DOUBLE) /
      |    CAST(sum(n_customers) OVER (PARTITION BY year_from, from_class) AS DOUBLE)
      |    AS share
      |FROM trans
      |ORDER BY year_from, from_class, to_class""".stripMargin

  // ------------------------------------------------------------------
  // Price indices: matched-model Jevons (log) + aggregate unit value
  // ------------------------------------------------------------------

  /** PRICE INDEX per ship year vs the base (first) year — two standard
    * estimators side by side: the matched-model JEVONS index in log
    * form (mean log unit-value relative over parts traded in BOTH
    * years — the composition-controlled measure statistical agencies
    * use) and the aggregate UNIT-VALUE index (total revenue per unit,
    * composition-biased but computable without matching — the trade-
    * statistics headline). Their divergence IS the composition effect:
    * the part-mix shifting toward dearer items shows up in UVI but not
    * Jevons. Completes the pricing family: [[qRevBridge]] decomposes
    * ONE period pair's revenue, this tracks the price LEVEL across all
    * years.
    *
    * Exactness: per-(year, part) revenue is exact cents and quantity
    * exact units (BIGINT); each Jevons term ln(R_t·Q_0 / (R_0·Q_t)) is
    * a DIFFERENCE OF TWO individually-floored quantized lns of exact
    * BIGINT products ([[graft.Exact.quantLog]] discipline) — the per-year sum is an
    * order-free BIGINT. The UVI is computed as a ratio-of-ratios
    * ((R_t/R_0)·(Q_0/Q_t), two divisions and one product, same shape
    * both engines) precisely so no BIGINT product of two year-totals
    * can overflow. exp() is deliberately NOT applied — libm exp is not
    * bit-identical across engines; the log index is the stable
    * cross-engine artifact (×100 ≈ percent).
    *
    * Scale (100 TB): one (year, part) aggregate over lineitem with
    * map-side partials (the only corpus shuffle); the base-year match
    * is a part-dictionary-sized equi-join per year.
    */
  def qPriceIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val yp = Tables.lineitem(spark, sfDir)
      .select(year(to_date($"l_shipdate".cast("timestamp"))).cast("long").as("yr"),
        $"l_partkey",
        floor($"l_extendedprice" * 100 + 0.5).cast("long").as("r_c"),
        floor($"l_quantity" + 0.5).cast("long").as("q"))
      .groupBy($"yr", $"l_partkey")
      .agg(sum($"r_c").as("r"), sum($"q").as("q"))
    val baseYr = yp.agg(min($"yr").as("base_yr"))
    val base = yp.crossJoin(broadcast(baseYr))
      .filter($"yr" === $"base_yr")
      .select($"l_partkey".as("pk0"), $"r".as("r0"), $"q".as("q0"))
    val matched = yp.join(base, $"l_partkey" === $"pk0")
      .select($"yr",
        (quantLog($"r" * $"q0") - quantLog($"r0" * $"q")).as("jterm"))
      .groupBy($"yr")
      .agg(count(lit(1)).as("n_matched"), sum($"jterm").as("jevons_log_q"))
    val totals = yp.groupBy($"yr")
      .agg(sum($"r").as("r_tot_c"), sum($"q").as("q_tot"))
    val baseTot = totals.crossJoin(broadcast(baseYr))
      .filter($"yr" === $"base_yr")
      .select($"r_tot_c".as("r0_tot"), $"q_tot".as("q0_tot"))
    totals.join(matched, "yr").crossJoin(broadcast(baseTot))
      .select($"yr", $"n_matched", $"r_tot_c", $"q_tot", $"jevons_log_q",
        ($"jevons_log_q".cast("double") /
          ($"n_matched" * logScale).cast("double")).as("jevons_log"),
        (($"r_tot_c".cast("double") / $"r0_tot") *
          ($"q0_tot".cast("double") / $"q_tot")).as("uvi"))
      .orderBy($"yr")
  }

  val qPriceIndexSql: String =
    s"""WITH yp AS (
       |  SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr, l_partkey,
       |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS r,
       |    CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS q
       |  FROM lineitem GROUP BY 1, 2
       |),
       |base_yr AS (SELECT min(yr) AS base_yr FROM yp),
       |base AS (
       |  SELECT l_partkey AS pk0, r AS r0, q AS q0
       |  FROM yp CROSS JOIN base_yr WHERE yr = base_yr
       |),
       |matched AS (
       |  SELECT yr, CAST(count(*) AS BIGINT) AS n_matched,
       |    CAST(sum(${quantLogSql("(r * q0)")} - ${quantLogSql("(r0 * q)")}) AS BIGINT)
       |      AS jevons_log_q
       |  FROM yp JOIN base ON l_partkey = pk0
       |  GROUP BY yr
       |),
       |totals AS (
       |  SELECT yr, CAST(sum(r) AS BIGINT) AS r_tot_c, CAST(sum(q) AS BIGINT) AS q_tot
       |  FROM yp GROUP BY yr
       |),
       |base_tot AS (
       |  SELECT r_tot_c AS r0_tot, q_tot AS q0_tot
       |  FROM totals CROSS JOIN base_yr WHERE yr = base_yr
       |)
       |SELECT yr, n_matched, r_tot_c, q_tot, jevons_log_q,
       |  CAST(jevons_log_q AS DOUBLE) / CAST(n_matched * $logScale AS DOUBLE)
       |    AS jevons_log,
       |  (CAST(r_tot_c AS DOUBLE) / r0_tot) * (CAST(q0_tot AS DOUBLE) / q_tot) AS uvi
       |FROM totals JOIN matched USING (yr) CROSS JOIN base_tot
       |ORDER BY yr""".stripMargin

  // ------------------------------------------------------------------
  // Fellegi-Sunter match-weight estimation
  // ------------------------------------------------------------------

  /** FELLEGI-SUNTER WEIGHTS — learns the per-feature agreement weights
    * ln(m/u) that turn [[qCustEntityMatch]]'s single edit-distance rule
    * into a principled linkage score: over the SAME blocked candidate
    * pairs and labeled by the fixture's injected twins
    * (id_b = id_a + 500000), estimate m_k = P(agree | match) and
    * u_k = P(agree | non-match) for four comparators (2-char prefix,
    * the mutated 3rd char, edit distance ≤ cap, equal length) with
    * Laplace smoothing, and emit each feature's quantized log
    * agreement weight. This is the supervised half of entity
    * resolution: the match op proposes pairs, this op says how much
    * each feature's agreement should COUNT — the weights a production
    * linker sums and thresholds. Blocking is DELIBERATELY coarser than
    * the match op's (last-2 name chars vs last-8): u-estimation needs
    * non-match pairs in the candidate set, and the tight block admits
    * almost none — the standard train-vs-serve blocking split.
    *
    * Exactness: all counts BIGINT; smoothing keeps every ln argument a
    * positive integer (2c+1 / 2n+2), so the weight is a sum of four
    * individually-floored quantized lns ([[graft.Exact.quantLog]] discipline) and
    * the m/u probabilities are single BIGINT divisions.
    *
    * Scale (100 TB): inherits the entity-match shape — candidate
    * generation is the block equi-join (never all-pairs), the
    * comparator vector is computed once per candidate, and the whole
    * estimation is ONE aggregate over candidates (map-side combined)
    * unpivoted to 4 feature rows. Within-block pair volume grows
    * quadratically in block size, so the estimation runs on a
    * DETERMINISTIC RECORD-LEVEL HASH SAMPLE ([[fsKeep]], the Dedup
    * evalKeep discipline): records are kept by an LCG on the BASE id
    * (`id % 500000` — the twin offset, so an injected twin always
    * lands on the same side of the boundary as its source). m/u are
    * RATIOS, so the estimates are consistent under the sample; keeping
    * at rate p cuts non-match pair volume by p² while matched pairs
    * (which share a base id) survive at rate p — the m numerator keeps
    * 4× more signal than a pair-level sample would. Production tunes p
    * per block occupancy (~1/√occupancy pins pair volume linear); the
    * estimation query itself is unchanged.
    */
  def qCustFsWeights(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val dirty = base.filter(col("id") % 9 === 0)
      .select((col("id") + 500000).as("id"),
        concat(substring(col("name"), 1, 2), lit("x"),
          expr("substring(name, 4)")).as("name"))
    val recs = base.unionAll(dirty)
    // Occupancy floor (SF robustness): the 25 % record sample only pays
    // once pair volume is quadratic-dominant; below [[fsSampleFloor]]
    // records the blocked candidate join is already tiny AND can end up
    // all-twin (n_u = 0 broke the sf0.001 replay in round 9), so keep
    // everything. The count() is a one-row scalar (model state, the
    // sanctioned k-means/power-iter precedent), mirrored as a scalar
    // subquery over the same union in the oracle SQL.
    val keepN = if (recs.count() < fsSampleFloor) fsSampleMod else fsSampleKeep
    val all = recs.filter(fsKeep(col("id"), keepN))
      .withColumn("block", expr("right(name, 2)"))
    val pairs = all.select($"id".as("id_a"), $"name".as("name_a"), $"block")
      .join(all.select($"id".as("id_b"), $"name".as("name_b"), $"block"), Seq("block"))
      .filter($"id_a" < $"id_b")
      .select(
        ($"id_b" === $"id_a" + 500000).cast("long").as("is_m"),
        (substring($"name_a", 1, 2) === substring($"name_b", 1, 2))
          .cast("long").as("g_prefix2"),
        (substring($"name_a", 3, 1) === substring($"name_b", 3, 1))
          .cast("long").as("g_char3"),
        (levenshtein($"name_a", $"name_b") <= entityMaxEdits)
          .cast("long").as("g_edits"),
        (length($"name_a") === length($"name_b")).cast("long").as("g_len"))
    val feats = Seq("char3", "edits", "len", "prefix2")
    val sums = pairs.agg(
      sum($"is_m").as("n_m"),
      (sum(lit(1L) - $"is_m").as("n_u") +:
        feats.flatMap(f => Seq(
          sum($"is_m" * col(s"g_$f")).as(s"am_$f"),
          sum((lit(1L) - $"is_m") * col(s"g_$f")).as(s"au_$f")))): _*)
    val stacked = sums.selectExpr("n_m", "n_u",
      s"stack(${feats.length}, " +
        feats.map(f => s"'$f', am_$f, au_$f").mkString(", ") +
        ") as (feature, agree_m, agree_u)")
    val wq = quantLog($"agree_m" * 2 + 1) + quantLog($"n_u" * 2 + 2) -
      quantLog($"agree_u" * 2 + 1) - quantLog($"n_m" * 2 + 2)
    stacked.select($"feature", $"n_m", $"n_u", $"agree_m", $"agree_u",
        (($"agree_m" * 2 + 1).cast("double") / ($"n_m" * 2 + 2)).as("m_prob"),
        (($"agree_u" * 2 + 1).cast("double") / ($"n_u" * 2 + 2)).as("u_prob"),
        wq.as("weight_q"),
        (wq.cast("double") / logScale).as("weight"))
      .orderBy($"feature")
  }

  /** Deterministic record-level sample for [[qCustFsWeights]]: the
    * [[graft.Exact.sampleBucket]] of the BASE id (`id % 500000` = the
    * twin offset, so a twin is kept iff its source is), keeping
    * 512/2048 = 25% of base ids — but only above [[fsSampleFloor]]
    * records (occupancy floor: below it the sample is disabled,
    * keep = mod).
    */
  final val fsSampleMod = 2048L
  final val fsSampleKeep = 512L
  final val fsSampleFloor = 5000L
  private def fsKeep(c: Column, keep: Long): Column =
    sampleBucket(c.cast("long"), 500000L, fsSampleMod) < keep
  private def fsKeepSqlOn(c: String, keepExpr: String): String =
    s"${sampleBucketSql(c, 500000L, fsSampleMod)} < $keepExpr"

  val qCustFsWeightsSql: String = {
    val feats = Seq("char3", "edits", "len", "prefix2")
    val featRows = feats.map { f =>
      s"""SELECT '$f' AS feature, n_m, n_u, am_$f AS agree_m, au_$f AS agree_u
         |  FROM sums""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
       |  SELECT c_custkey AS id, c_name AS name FROM customer
       |),
       |dirty AS (
       |  SELECT id + 500000 AS id,
       |    substr(name, 1, 2) || 'x' || substr(name, 4) AS name
       |  FROM base WHERE id % 9 = 0
       |),
       |recs AS (
       |  SELECT id, name FROM base UNION ALL SELECT id, name FROM dirty
       |),
       |all_recs AS (
       |  SELECT id, name, right(name, 2) AS block
       |  FROM recs
       |  WHERE ${fsKeepSqlOn("id",
              s"(SELECT CASE WHEN count(*) < $fsSampleFloor THEN $fsSampleMod " +
              s"ELSE $fsSampleKeep END FROM recs)")}
       |),
       |pairs AS (
       |  SELECT
       |    CASE WHEN b.id = a.id + 500000 THEN 1 ELSE 0 END AS is_m,
       |    CASE WHEN substr(a.name, 1, 2) = substr(b.name, 1, 2) THEN 1 ELSE 0 END AS g_prefix2,
       |    CASE WHEN substr(a.name, 3, 1) = substr(b.name, 3, 1) THEN 1 ELSE 0 END AS g_char3,
       |    CASE WHEN levenshtein(a.name, b.name) <= $entityMaxEdits THEN 1 ELSE 0 END AS g_edits,
       |    CASE WHEN length(a.name) = length(b.name) THEN 1 ELSE 0 END AS g_len
       |  FROM all_recs a JOIN all_recs b ON a.block = b.block AND a.id < b.id
       |),
       |sums AS (
       |  SELECT CAST(sum(is_m) AS BIGINT) AS n_m,
       |    CAST(sum(1 - is_m) AS BIGINT) AS n_u,
       |    ${feats.map(f => s"CAST(sum(is_m * g_$f) AS BIGINT) AS am_$f, " +
               s"CAST(sum((1 - is_m) * g_$f) AS BIGINT) AS au_$f").mkString(",\n    ")}
       |  FROM pairs
       |),
       |stacked AS (
       |  $featRows
       |)
       |SELECT feature, n_m, n_u, agree_m, agree_u,
       |  CAST(agree_m * 2 + 1 AS DOUBLE) / (n_m * 2 + 2) AS m_prob,
       |  CAST(agree_u * 2 + 1 AS DOUBLE) / (n_u * 2 + 2) AS u_prob,
       |  ${quantLogSql("(agree_m * 2 + 1)")} + ${quantLogSql("(n_u * 2 + 2)")} -
       |    ${quantLogSql("(agree_u * 2 + 1)")} - ${quantLogSql("(n_m * 2 + 2)")} AS weight_q,
       |  CAST(${quantLogSql("(agree_m * 2 + 1)")} + ${quantLogSql("(n_u * 2 + 2)")} -
       |    ${quantLogSql("(agree_u * 2 + 1)")} - ${quantLogSql("(n_m * 2 + 2)")} AS DOUBLE)
       |    / $logScale AS weight
       |FROM stacked
       |ORDER BY feature""".stripMargin
  }

  // ------------------------------------------------------------------
  // Weight-of-evidence / information value feature audit
  // ------------------------------------------------------------------

  /** WEIGHT-OF-EVIDENCE / INFORMATION-VALUE audit — the credit-scoring
    * screen for "does this feature separate the classes, and where":
    * discount depth binned to its exact 0–10 point grid, label =
    * returned (`l_returnflag = 'R'`), per bin WOE =
    * ln((ret_b/R)/(kept_b/K)) and IV term (ret_b/R − kept_b/K)·WOE,
    * with the RUNNING IV (last row = total, the 0.02/0.1/0.3
    * weak/medium/strong screen number). Complements
    * [[graft.queries.Analytics]]'s chi-square independence test: χ²
    * says WHETHER the feature and label are dependent, WOE says WHERE
    * the signal sits and IV how much there is — the monotone-binning
    * audit a feature pipeline runs before committing a feature.
    *
    * Exactness: bin counts are exact BIGINTs; WOE is a SUM OF FOUR
    * INDIVIDUALLY-FLOORED quantized lns (integer before any mixing —
    * the [[graft.queries.Analytics]] qln discipline), and each double
    * is formed in the same shape both engines. The running IV sums
    * doubles in the bin-ORDERED window frame, so the addition order is
    * pinned (a plain SUM over doubles would not be).
    *
    * Scale (100 TB): one 11-group aggregate with map-side partials and
    * a 2-value conditional count — the corpus is touched once, narrow.
    * Bins where either class is empty are excluded (WOE undefined) in
    * both engines identically.
    */
  def qLineWoe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val binned = Tables.lineitem(spark, sfDir).select(
      floor($"l_discount" * 100 + 0.5).cast("long").as("bin"),
      when($"l_returnflag" === "R", 1L).otherwise(0L).as("ret"))
    val perBin = binned.groupBy($"bin")
      .agg(sum($"ret").as("n_ret"),
        sum(lit(1L) - $"ret").as("n_kept"))
      .where($"n_ret" > 0 && $"n_kept" > 0)
    val tot = perBin.agg(sum($"n_ret").as("tot_ret"),
      sum($"n_kept").as("tot_kept"))
    val woeQ = quantLog($"n_ret") + quantLog($"tot_kept") -
      quantLog($"n_kept") - quantLog($"tot_ret")
    val withWoe = perBin.crossJoin(tot)
      .select($"bin", $"n_ret", $"n_kept",
        woeQ.as("woe_q"),
        (woeQ.cast("double") / logScale).as("woe"),
        (($"n_ret".cast("double") / $"tot_ret" -
          $"n_kept".cast("double") / $"tot_kept") *
          (woeQ.cast("double") / logScale)).as("iv_term"))
    val w = Window.orderBy($"bin").rowsBetween(Window.unboundedPreceding, 0)
    withWoe
      .select($"bin", $"n_ret", $"n_kept", $"woe_q", $"woe", $"iv_term",
        sum($"iv_term").over(w).as("iv_running"))
      .orderBy($"bin")
  }

  val qLineWoeSql: String =
    s"""WITH binned AS (
       |  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS bin,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
       |  FROM lineitem
       |),
       |per_bin AS (
       |  SELECT bin, CAST(sum(ret) AS BIGINT) AS n_ret,
       |    CAST(sum(1 - ret) AS BIGINT) AS n_kept
       |  FROM binned GROUP BY bin
       |  HAVING CAST(sum(ret) AS BIGINT) > 0 AND CAST(sum(1 - ret) AS BIGINT) > 0
       |),
       |tot AS (
       |  SELECT CAST(sum(n_ret) AS BIGINT) AS tot_ret,
       |    CAST(sum(n_kept) AS BIGINT) AS tot_kept
       |  FROM per_bin
       |),
       |woe AS (
       |  SELECT bin, n_ret, n_kept,
       |    ${quantLogSql("n_ret")} + ${quantLogSql("tot_kept")} -
       |      ${quantLogSql("n_kept")} - ${quantLogSql("tot_ret")} AS woe_q,
       |    (CAST(n_ret AS DOUBLE) / tot_ret - CAST(n_kept AS DOUBLE) / tot_kept) AS share_gap
       |  FROM per_bin CROSS JOIN tot
       |)
       |SELECT bin, n_ret, n_kept, woe_q,
       |  CAST(woe_q AS DOUBLE) / $logScale AS woe,
       |  share_gap * (CAST(woe_q AS DOUBLE) / $logScale) AS iv_term,
       |  sum(share_gap * (CAST(woe_q AS DOUBLE) / $logScale))
       |    OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iv_running
       |FROM woe
       |ORDER BY bin""".stripMargin

  // ------------------------------------------------------------------
  // Single-source supplier risk: revenue exposed to one supplier
  // ------------------------------------------------------------------

  /** SINGLE-SOURCE SUPPLIER RISK per brand — for every part, the count
    * of DISTINCT suppliers its trade history shows; a part with exactly
    * one is single-sourced, and the revenue flowing through it is
    * revenue a single supplier failure stops. Rolled up per brand:
    * part counts, the single-sourced share, and the exposed revenue
    * share — the supply-chain-resilience scorecard procurement runs
    * before dual-sourcing negotiations, and the risk-side complement of
    * [[qSuppHhi]]'s concentration view (HHI says volume is concentrated
    * ACROSS suppliers; this says which parts have no alternative AT
    * ALL).
    *
    * Exactness: revenue is the module's DECIMAL(18,4)
    * extendedprice·(1−discount) rule summed exactly per part and
    * emitted as BIGINT basis points ([[qNationTradeBalance]]
    * convention); shares are single divisions of exact BIGINTs with
    * zero-denominator guards (ANSI rule).
    *
    * Scale (100 TB): one part-keyed aggregate over lineitem — the
    * distinct-supplier count is the standard two-phase distinct
    * ((part, supp) pre-aggregate, then part), both map-side combined;
    * the brand lookup is a broadcast of the part dim projection and the
    * brand rollup is |brands|-sized. No other corpus exchange.
    */
  def qPartSingleSource(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rev = revenue(col("l_extendedprice"), col("l_discount"))
    val perPart = Tables.lineitem(spark, sfDir)
      .groupBy($"l_partkey")
      .agg(countDistinct($"l_suppkey").as("n_supp"),
        (sum(rev) * 10000).cast("long").as("rev_bp"))
    perPart
      .join(broadcast(Tables.part(spark, sfDir)
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
        sum(when($"n_supp" === 1, 1L).otherwise(0L)).as("n_single"),
        sum($"rev_bp").as("rev_bp"),
        sum(when($"n_supp" === 1, $"rev_bp").otherwise(0L)).as("single_rev_bp"))
      .select($"p_brand", $"n_parts", $"n_single",
        when($"n_parts" > 0, $"n_single".cast("double") / $"n_parts")
          .otherwise(lit(0.0)).as("single_part_share"),
        $"rev_bp", $"single_rev_bp",
        when($"rev_bp" > 0, $"single_rev_bp".cast("double") / $"rev_bp")
          .otherwise(lit(0.0)).as("exposure_share"))
      .orderBy($"p_brand")
  }

  val qPartSingleSourceSql: String =
    s"""WITH per_part AS (
      |  SELECT l_partkey, count(DISTINCT l_suppkey) AS n_supp,
      |    CAST(sum(${revenueSql("l_extendedprice", "l_discount")})
      |      * 10000 AS BIGINT) AS rev_bp
      |  FROM lineitem GROUP BY l_partkey
      |),
      |per_brand AS (
      |  SELECT p_brand, count(*) AS n_parts,
      |    CAST(sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_single,
      |    CAST(sum(rev_bp) AS BIGINT) AS rev_bp,
      |    CAST(sum(CASE WHEN n_supp = 1 THEN rev_bp ELSE 0 END) AS BIGINT)
      |      AS single_rev_bp
      |  FROM per_part JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand
      |)
      |SELECT p_brand, n_parts, n_single,
      |  CASE WHEN n_parts > 0
      |    THEN CAST(n_single AS DOUBLE) / n_parts
      |    ELSE CAST(0.0 AS DOUBLE) END AS single_part_share,
      |  rev_bp, single_rev_bp,
      |  CASE WHEN rev_bp > 0
      |    THEN CAST(single_rev_bp AS DOUBLE) / rev_bp
      |    ELSE CAST(0.0 AS DOUBLE) END AS exposure_share
      |FROM per_brand
      |ORDER BY p_brand""".stripMargin

  // ------------------------------------------------------------------
  // ABC-XYZ matrix: value class × demand-variability class
  // ------------------------------------------------------------------

  /** Week width for the XYZ demand series. Literal RHS `final` per the
    * init-cycle rule.
    */
  final val xyzWeekDays = 7L

  /** ABC-XYZ INVENTORY SEGMENTATION — the planning matrix every
    * replenishment policy starts from: each traded part gets a VALUE
    * class (A/B/C by cumulative revenue share, 70/90 cuts — the
    * [[qCustAbcMigration]] discipline at part grain) and a DEMAND-
    * VARIABILITY class over its weekly shipped-quantity series
    * INCLUDING zero weeks (X: CV < 0.5 — forecast statistically,
    * Y: CV < 1 — forecast with care, Z: intermittent — don't forecast,
    * buffer). AX cells get automated min-max policies; CZ cells get
    * make-to-order. The joint matrix is emitted with part counts and
    * revenue mass per cell.
    *
    * Exactness: revenue is exact DECIMAL basis points; weekly
    * quantities are exact cents (quantities are integral, so the
    * decimal→BIGINT boundary is integer-valued — the truncate-vs-round
    * trap never arises); the CV compares cross-multiply to pure BIGINTs
    * — CV < c ⟺ n·(n·Q − S²) < c²·S²·(n−1) with n = the GLOBAL week
    * count (zero weeks contribute 0 to S and Q, so observed-week
    * moments suffice), c² ∈ {1/4, 1} as integer ratios; the ABC cut is
    * the cum·10 ≤ 7·tot integer compare. No double decides any class.
    *
    * Scale (100 TB): one (part, week) partial aggregate + one part
    * rollup over lineitem; the ABC window runs at PART-DIM grain
    * (|parts| rows, metadata-sized next to the fact); the matrix is a
    * ≤9-row rollup. Span is a 1-row broadcast.
    */
  def qPartAbcXyz(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rev = revenue(col("l_extendedprice"), col("l_discount"))
    // spread on the weekly aggregate's key
    val li = Exec.spread(Tables.lineitem(spark, sfDir)
      .select($"l_partkey",
        epochDay(to_date($"l_shipdate")).as("dn"),
        dec($"l_quantity").as("qd"), rev.as("rev")), $"l_partkey")
    val span = li.agg(min($"dn").as("d0"), max($"dn").as("d1"))
      .select($"d0", (expr(s"(d1 - d0) div $xyzWeekDays") + 1).as("n_weeks"))
    val weekly = li.crossJoin(broadcast(span))
      .withColumn("wk", expr(s"(dn - d0) div $xyzWeekDays"))
      .groupBy($"l_partkey", $"wk")
      .agg(floor(sum($"qd") * 100).cast("long").as("qc"),
        sum($"rev").as("rev_w"), max($"n_weeks").as("n_weeks"))
    val perPart = weekly.groupBy($"l_partkey")
      .agg(sum($"qc").as("s"), sum($"qc" * $"qc").as("q"),
        (sum($"rev_w") * 10000).cast("long").as("rev_bp"),
        max($"n_weeks").as("w"))
      .withColumn("cls_xyz",
        when($"w" * ($"w" * $"q" - $"s" * $"s") * 4 < $"s" * $"s" * ($"w" - 1), "X")
          .when($"w" * ($"w" * $"q" - $"s" * $"s") < $"s" * $"s" * ($"w" - 1), "Y")
          .otherwise("Z"))
    val wCum = Window.orderBy($"rev_bp".desc, $"l_partkey")
      .rowsBetween(Window.unboundedPreceding, 0)
    val classed = perPart
      .select($"l_partkey", $"rev_bp", $"cls_xyz",
        sum($"rev_bp").over(wCum).as("cum"),
        sum($"rev_bp").over(Window.partitionBy()).as("tot"))
      .select($"l_partkey", $"rev_bp", $"cls_xyz",
        when($"cum" * 10 <= $"tot" * 7, "A")
          .when($"cum" * 10 <= $"tot" * 9, "B")
          .otherwise("C").as("cls_abc"))
      // MATERIALIZED (r15): the cell aggregate AND the 1-row revenue
      // total both read classed — unmaterialized, the whole weekly /
      // per-part pipeline evaluated twice. |parts| rows.
      .localCheckpoint(true)
    classed.groupBy($"cls_abc", $"cls_xyz")
      .agg(count(lit(1)).as("n_parts"), sum($"rev_bp").as("rev_bp"))
      .crossJoin(broadcast(classed.agg(sum($"rev_bp").as("tot_bp"))))
      .select($"cls_abc", $"cls_xyz", $"n_parts", $"rev_bp",
        when($"tot_bp" > 0, $"rev_bp".cast("double") / $"tot_bp")
          .otherwise(lit(0.0)).as("rev_share"))
      .orderBy($"cls_abc", $"cls_xyz")
  }

  val qPartAbcXyzSql: String =
    s"""WITH li AS (
      |  SELECT l_partkey,
      |    ${epochDaySql("CAST(l_shipdate AS DATE)")} AS dn,
      |    ${decSql("l_quantity")} AS qd,
      |    ${revenueSql("l_extendedprice", "l_discount")} AS rev
      |  FROM lineitem
      |),
      |span AS (
      |  SELECT min(dn) AS d0, (max(dn) - min(dn)) // $xyzWeekDays + 1 AS n_weeks
      |  FROM li
      |),
      |weekly AS (
      |  SELECT l_partkey, (dn - d0) // $xyzWeekDays AS wk,
      |    CAST(floor(sum(qd) * 100) AS BIGINT) AS qc,
      |    sum(rev) AS rev_w, max(n_weeks) AS n_weeks
      |  FROM li CROSS JOIN span
      |  GROUP BY l_partkey, wk
      |),
      |per_part AS (
      |  SELECT l_partkey, CAST(sum(qc) AS BIGINT) AS s,
      |    CAST(sum(qc * qc) AS BIGINT) AS q,
      |    CAST(sum(rev_w) * 10000 AS BIGINT) AS rev_bp,
      |    max(n_weeks) AS w
      |  FROM weekly GROUP BY l_partkey
      |),
      |xyz AS (
      |  SELECT l_partkey, rev_bp,
      |    CASE WHEN w * (w * q - s * s) * 4 < s * s * (w - 1) THEN 'X'
      |         WHEN w * (w * q - s * s) < s * s * (w - 1) THEN 'Y'
      |         ELSE 'Z' END AS cls_xyz
      |  FROM per_part
      |),
      |classed AS (
      |  SELECT l_partkey, rev_bp, cls_xyz,
      |    CASE WHEN sum(rev_bp) OVER (ORDER BY rev_bp DESC, l_partkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10
      |           <= sum(rev_bp) OVER () * 7 THEN 'A'
      |         WHEN sum(rev_bp) OVER (ORDER BY rev_bp DESC, l_partkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10
      |           <= sum(rev_bp) OVER () * 9 THEN 'B'
      |         ELSE 'C' END AS cls_abc
      |  FROM xyz
      |),
      |tot AS (SELECT CAST(sum(rev_bp) AS BIGINT) AS tot_bp FROM classed)
      |SELECT cls_abc, cls_xyz, count(*) AS n_parts,
      |  CAST(sum(rev_bp) AS BIGINT) AS rev_bp,
      |  CASE WHEN tot_bp > 0
      |    THEN CAST(sum(rev_bp) AS DOUBLE) / tot_bp
      |    ELSE CAST(0.0 AS DOUBLE) END AS rev_share
      |FROM classed CROSS JOIN tot
      |GROUP BY cls_abc, cls_xyz, tot_bp
      |ORDER BY cls_abc, cls_xyz""".stripMargin

  // ------------------------------------------------------------------
  // Kendall rank stability: is the brand league table durable?
  // ------------------------------------------------------------------

  /** KENDALL RANK STABILITY of the brand revenue league table — split
    * the order history at the midpoint of the observed day span and
    * correlate the two periods' brand rankings with Kendall's τ: for
    * every brand pair, does their revenue ORDER agree across periods
    * (concordant) or flip (discordant)? τ = (C−D)/pairs. The
    * rank-statistic complement of [[qCustAbcMigration]]'s class
    * transitions: migration counts who crossed a 70/90 cut, τ measures
    * ordering durability everywhere at once — τ ≈ 1 says the league
    * table is signal, τ ≈ 0 says last period's ranking predicts
    * nothing. One row with the full concordance decomposition.
    *
    * Exactness: period revenues are exact DECIMAL basis points
    * (integer-valued at these price/discount scales); concordance
    * multiplies SIGNS on {-1,0,1} — never the bp differences
    * themselves, whose product would overflow ANSI int64 at brand
    * revenue magnitudes — so ties are counted separately, never forced
    * into a side, and τ is one closing division of exact counts.
    *
    * Scale (100 TB): one (brand, period) aggregate over the fact (all
    * map-side combined after the broadcast brand lookup); the pair
    * join and concordance rollup run on the |brands|²/2 ≈ 300-row
    * metadata frame.
    */
  def qBrandRankTau(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rev = revenue(col("l_extendedprice"), col("l_discount"))
    val li = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .select($"p_brand",
        epochDay(to_date($"l_shipdate")).as("dn"),
        rev.as("rev"))
    val span = li.agg(min($"dn").as("d0"), max($"dn").as("d1"))
      .select(($"d0" + expr("(d1 - d0 + 1) div 2")).as("d_mid"))
    val byBrand = li.crossJoin(broadcast(span))
      .groupBy($"p_brand")
      .agg((sum(when($"dn" < $"d_mid", $"rev")
          .otherwise(dec(lit(0)))) * 10000).cast("long").as("r1"),
        (sum(when($"dn" >= $"d_mid", $"rev")
          .otherwise(dec(lit(0)))) * 10000).cast("long").as("r2"))
    val a = byBrand.select($"p_brand".as("ba"), $"r1".as("r1a"), $"r2".as("r2a"))
    val b = byBrand.select($"p_brand".as("bb"), $"r1".as("r1b"), $"r2".as("r2b"))
    // concordance via SIGN algebra on {-1,0,1} — a raw bp-difference
    // product would overflow ANSI int64 at brand-level revenue magnitudes
    val pairs = a.join(b, $"ba" < $"bb")
      .select((
        (when($"r1a" > $"r1b", 1L).when($"r1a" < $"r1b", -1L).otherwise(0L)) *
        (when($"r2a" > $"r2b", 1L).when($"r2a" < $"r2b", -1L).otherwise(0L)))
        .as("prod"))
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(when($"prod" > 0, 1L).otherwise(0L)).as("concordant"),
      sum(when($"prod" < 0, 1L).otherwise(0L)).as("discordant"),
      sum(when($"prod" === 0, 1L).otherwise(0L)).as("ties"))
      .select($"n_pairs", $"concordant", $"discordant", $"ties",
        when($"n_pairs" > 0,
          ($"concordant" - $"discordant").cast("double") / $"n_pairs")
          .otherwise(lit(0.0)).as("tau"))
  }

  val qBrandRankTauSql: String =
    s"""WITH li AS (
      |  SELECT p_brand,
      |    ${epochDaySql("CAST(l_shipdate AS DATE)")} AS dn,
      |    ${revenueSql("l_extendedprice", "l_discount")} AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |),
      |span AS (SELECT min(dn) + (max(dn) - min(dn) + 1) // 2 AS d_mid FROM li),
      |by_brand AS (
      |  SELECT p_brand,
      |    CAST(sum(CASE WHEN dn < d_mid THEN rev ELSE 0 END) * 10000 AS BIGINT)
      |      AS r1,
      |    CAST(sum(CASE WHEN dn >= d_mid THEN rev ELSE 0 END) * 10000 AS BIGINT)
      |      AS r2
      |  FROM li CROSS JOIN span
      |  GROUP BY p_brand
      |),
      |pairs AS (
      |  SELECT (CASE WHEN a.r1 > b.r1 THEN 1 WHEN a.r1 < b.r1 THEN -1 ELSE 0 END) *
      |         (CASE WHEN a.r2 > b.r2 THEN 1 WHEN a.r2 < b.r2 THEN -1 ELSE 0 END)
      |           AS prod
      |  FROM by_brand a JOIN by_brand b ON a.p_brand < b.p_brand
      |)
      |SELECT count(*) AS n_pairs,
      |  CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      |  CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
      |  CAST(sum(CASE WHEN prod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties,
      |  CASE WHEN count(*) > 0
      |    THEN CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) -
      |              sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS DOUBLE) /
      |         count(*)
      |    ELSE CAST(0.0 AS DOUBLE) END AS tau
      |FROM pairs""".stripMargin

  // ------------------------------------------------------------------
  // Bullwhip ratio: demand-to-fulfilment variance amplification
  // ------------------------------------------------------------------

  /** BULLWHIP RATIO per market segment — the Lee/Padmanabhan/Whang
    * supply-chain diagnostic: compare the variability of weekly DEMAND
    * (order value by order date) against weekly FULFILMENT (shipped
    * line revenue by ship date) as squared coefficients of variation,
    * both over the SAME global week grid including zero weeks. A ratio
    * far above 1 says fulfilment is burstier than the demand driving
    * it — batching/campaign amplification, the bullwhip mechanism — and
    * which segment amplifies tells planners where order batching lives.
    * The flow sibling of [[qPartAbcXyz]]'s XYZ class: XYZ grades each
    * part's demand noise, bullwhip grades the SYSTEM's response to it.
    *
    * Exactness: weekly series are exact whole-DOLLAR BIGINTs (floor of
    * the DECIMAL sums — dollars, not cents, keep Σw² inside int64 at
    * sf0.1-scale weekly magnitudes; widen past ~10⁹-dollar weeks);
    * moments are exact; each CV² = W(WQ−S²)/(S²(W−1)) and the ratio
    * evaluate one fixed-shape double expression over those exact
    * integers — identical in both engines. Zero-demand guards excluded
    * segments rather than divided.
    *
    * Scale (100 TB): two (segment, week) partial aggregates (orders;
    * lineitem joined to orders for the segment key — one orderkey
    * exchange), then a |segments|-row join. The week grid is a 1-row
    * broadcast.
    */
  def qSegBullwhip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val seg = broadcast(Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment"))
    val placed = Tables.orders(spark, sfDir)
      .join(seg, $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"),
        epochDay(to_date($"o_orderdate".cast("timestamp"))).as("dn"),
        dec($"o_totalprice").as("v"))
    val rev = revenue(col("l_extendedprice"), col("l_discount"))
    // NO spread on the lineitem side (r16 measured): the guarded
    // repartition only ever fires at bench scale (production scans fan
    // wider than the core count by themselves), and there the min-of-2
    // interleaved bench A/B showed the extra exchange costing ~0.15 s
    // net — the day-grain partial aggregate downstream already combines
    // map-side, so the spread bought parallelism the aggregate didn't
    // need. (A load-polluted probe had claimed the opposite.)
    val shipped = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount", $"l_shipdate")
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(seg, $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"),
        epochDay(to_date($"l_shipdate")).as("dn"),
        rev.as("v"))
    // DAY-GRAIN REDUCTION, materialized (r15, guide §1.2): placed and
    // shipped each fed the span aggregate AND their weekly-moment arm,
    // and span feeds both arms as a broadcast — unmaterialized, each
    // side's full join pipeline evaluated FOUR times (15 parquet scans
    // in the plan). DECIMAL sums are exact and associative, so summing
    // per (seg, day) first and weekly-summing the day sums is
    // bit-identical to the direct weekly sum (floor applied after, as
    // before), while the checkpointed frames are |segments|·|days| rows
    // at any corpus scale.
    // EAGER concurrent checkpoints, not a lazy persist: the lazy form
    // makes the span broadcast build serialize both join pipelines.
    def dayGrain(src: DataFrame): DataFrame = src
      .groupBy($"seg", $"dn").agg(sum($"v").as("v"))
      .localCheckpoint(true)
    val Seq(placedD, shippedD) =
      Exec.concurrently(() => dayGrain(placed), () => dayGrain(shipped))
    val span = placedD.select($"dn")
      .unionAll(shippedD.select($"dn"))
      .agg(min($"dn").as("d0"), max($"dn").as("d1"))
      .select($"d0", (expr(s"(d1 - d0) div $xyzWeekDays") + 1).as("n_weeks"))
    def weeklyMoments(src: DataFrame): DataFrame = src
      .crossJoin(broadcast(span))
      .groupBy($"seg", expr(s"(dn - d0) div $xyzWeekDays").as("wk"))
      .agg(floor(sum($"v")).cast("long").as("wd"), max($"n_weeks").as("n_weeks"))
      .groupBy($"seg")
      .agg(sum($"wd").as("s"), sum($"wd" * $"wd").as("q"),
        max($"n_weeks").as("w"))
    def cv2(s: Column, q: Column, w: Column): Column =
      ((w.cast("double") * q.cast("double") - s.cast("double") * s.cast("double")) *
        w.cast("double")) /
        ((s.cast("double") * s.cast("double")) * (w.cast("double") - 1.0))
    val p = weeklyMoments(placedD)
      .select($"seg", $"s".as("sp"), $"q".as("qp"), $"w")
    val sh = weeklyMoments(shippedD)
      .select($"seg".as("seg2"), $"s".as("ss"), $"q".as("qs"))
    p.join(sh, $"seg" === $"seg2")
      .filter($"sp" > 0 && $"ss" > 0 && $"w" >= 2)
      .select($"seg".as("c_mktsegment"),
        $"w".as("n_weeks"), $"sp".as("demand_dollars"), $"ss".as("shipped_dollars"),
        cv2($"sp", $"qp", $"w").as("cv2_demand"),
        cv2($"ss", $"qs", $"w").as("cv2_fulfilment"),
        (cv2($"ss", $"qs", $"w") / cv2($"sp", $"qp", $"w")).as("bullwhip_ratio"))
      .orderBy($"c_mktsegment")
  }

  val qSegBullwhipSql: String = {
    def cv2(s: String, q: String): String =
      s"""(((CAST(w AS DOUBLE) * CAST($q AS DOUBLE) -
         |  CAST($s AS DOUBLE) * CAST($s AS DOUBLE)) * CAST(w AS DOUBLE)) /
         |  ((CAST($s AS DOUBLE) * CAST($s AS DOUBLE)) * (CAST(w AS DOUBLE) - 1.0)))""".stripMargin
    s"""WITH placed AS (
       |  SELECT c_mktsegment AS seg,
       |    ${epochDaySql("CAST(o_orderdate AS DATE)")} AS dn,
       |    ${decSql("o_totalprice")} AS v
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |),
       |shipped AS (
       |  SELECT c_mktsegment AS seg,
       |    ${epochDaySql("CAST(l_shipdate AS DATE)")} AS dn,
       |    ${revenueSql("l_extendedprice", "l_discount")} AS v
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |),
       |span AS (
       |  SELECT min(dn) AS d0, (max(dn) - min(dn)) // $xyzWeekDays + 1 AS n_weeks
       |  FROM (SELECT dn FROM placed UNION ALL SELECT dn FROM shipped)
       |),
       |pm AS (
       |  SELECT seg, CAST(sum(wd) AS BIGINT) AS sp,
       |    CAST(sum(wd * wd) AS BIGINT) AS qp, max(n_weeks) AS w
       |  FROM (
       |    SELECT seg, (dn - d0) // $xyzWeekDays AS wk,
       |      CAST(floor(sum(v)) AS BIGINT) AS wd, max(n_weeks) AS n_weeks
       |    FROM placed CROSS JOIN span GROUP BY seg, wk)
       |  GROUP BY seg
       |),
       |sm AS (
       |  SELECT seg, CAST(sum(wd) AS BIGINT) AS ss,
       |    CAST(sum(wd * wd) AS BIGINT) AS qs
       |  FROM (
       |    SELECT seg, (dn - d0) // $xyzWeekDays AS wk,
       |      CAST(floor(sum(v)) AS BIGINT) AS wd
       |    FROM shipped CROSS JOIN span GROUP BY seg, wk)
       |  GROUP BY seg
       |)
       |SELECT pm.seg AS c_mktsegment, w AS n_weeks,
       |  sp AS demand_dollars, ss AS shipped_dollars,
       |  ${cv2("sp", "qp")} AS cv2_demand,
       |  ${cv2("ss", "qs")} AS cv2_fulfilment,
       |  ${cv2("ss", "qs")} / ${cv2("sp", "qp")} AS bullwhip_ratio
       |FROM pm JOIN sm ON sm.seg = pm.seg
       |WHERE sp > 0 AND ss > 0 AND w >= 2
       |ORDER BY c_mktsegment""".stripMargin
  }

  // ------------------------------------------------------------------
  // One-way ANOVA: does supplier nation explain lead-time variance?
  // ------------------------------------------------------------------

  /** F(24, ∞) 5% critical value for the 25-nation grouping. Literal
    * RHS `final` per the init-cycle rule.
    */
  final val anovaF05 = 1.52

  /** ONE-WAY ANOVA of order→ship lead time across supplier nations —
    * the variance-decomposition test behind "does WHERE we buy from
    * drive HOW LONG fulfilment takes?": between-group sum of squares
    * (nation means vs grand mean) against within-group (noise), closed
    * as the F statistic and η² (the share of lead-time variance nation
    * membership explains). [[qOrderSlaCurve]] grades lead times against
    * contract thresholds; ANOVA asks whether a 25-way procurement
    * lever exists at all before anyone negotiates per-nation SLAs.
    *
    * Exactness: lead times are exact integer days; per-group and grand
    * moments are exact BIGINTs; the one term needing division per
    * group (Σ S_g²/n_g) accumulates as a SEQUENTIAL nation-ordered fold
    * of identically-rounded doubles — a partial-agg double sum over
    * groups would be merge-order-dependent — and the closing
    * SSB/SSW/F/η² algebra is a fixed-shape double expression.
    *
    * Scale (100 TB): one fact-side join+aggregate to the 25-row group
    * frame (map-side combined; dims broadcast), then all arithmetic on
    * metadata. The fold array is |nations|-bounded model state.
    */
  def qLeadtimeAnova(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val leads = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
      .select($"n_name".as("grp"),
        datediff(to_date($"l_shipdate"),
          to_date($"o_orderdate".cast("timestamp"))).cast("long").as("x"))
    val per = leads.groupBy($"grp")
      .agg(count(lit(1)).as("ng"), sum($"x").as("sg"), sum($"x" * $"x").as("qg"))
    val agg = per.agg(count(lit(1)).as("k"), sum($"ng").as("n"),
      sum($"sg").as("s"), sum($"qg").as("q"),
      expr(orderedSumExprSql("grp, ng, sg",
        "(cast(e.sg as double) * cast(e.sg as double)) / cast(e.ng as double)"))
        .as("sum_sg2_ng"))
      .filter($"k" >= 2 && $"n" > $"k")
    val ssb = $"sum_sg2_ng" -
      ($"s".cast("double") * $"s".cast("double")) / $"n".cast("double")
    val ssw = $"q".cast("double") - $"sum_sg2_ng"
    val f = (ssb / ($"k" - 1).cast("double")) / (ssw / ($"n" - $"k").cast("double"))
    agg
      .filter(ssw > 0.0)
      .select($"k".as("n_groups"), $"n".as("n_lines"),
        ssb.as("ss_between"), ssw.as("ss_within"), f.as("f_stat"),
        (ssb / (ssb + ssw)).as("eta2"),
        (f > anovaF05).as("significant"))
  }

  val qLeadtimeAnovaSql: String = {
    val ssb = "(sum_sg2_ng - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))"
    val ssw = "(CAST(q AS DOUBLE) - sum_sg2_ng)"
    val f = s"(($ssb / CAST(k - 1 AS DOUBLE)) / ($ssw / CAST(n - k AS DOUBLE)))"
    s"""WITH leads AS (
       |  SELECT n_name AS grp,
       |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT) AS x
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |),
       |per AS (
       |  SELECT grp, count(*) AS ng, CAST(sum(x) AS BIGINT) AS sg,
       |    CAST(sum(x * x) AS BIGINT) AS qg
       |  FROM leads GROUP BY grp
       |),
       |agg AS (
       |  SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
       |    CAST(sum(sg) AS BIGINT) AS s, CAST(sum(qg) AS BIGINT) AS q,
       |    ${orderedSumSql("(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / CAST(ng AS DOUBLE)", "grp")} AS sum_sg2_ng
       |  FROM per
       |)
       |SELECT k AS n_groups, n AS n_lines,
       |  $ssb AS ss_between, $ssw AS ss_within, $f AS f_stat,
       |  $ssb / ($ssb + $ssw) AS eta2,
       |  $f > $anovaF05 AS significant
       |FROM agg
       |WHERE k >= 2 AND n > k AND $ssw > 0.0""".stripMargin
  }

  // ------------------------------------------------------------------
  // Empirical-Bayes shrunk supplier late-rate scorecard
  // ------------------------------------------------------------------

  /** Late threshold (days) and the rate-quantization scale for the
    * method-of-moments pass. Literal RHS `final` per the init-cycle
    * rule.
    */
  final val shrinkLateDays = 30L
  final val rateMicro = 1000000L

  /** EMPIRICAL-BAYES SHRUNK late-rate per supplier — the small-sample
    * ranking fix every supplier scorecard needs: a 3-line supplier with
    * one late line is NOT a 33%-late supplier; model per-supplier late
    * rates as Beta(α, β) draws (method-of-moments fit across
    * suppliers), and report the beta-binomial posterior mean
    * (k + α)/(n + α + β) — raw rates shrink toward the fleet mean in
    * proportion to how little evidence each supplier has. The
    * RE-ESTIMATION complement of [[qBrandReturnRate]]'s Wilson bounds:
    * Wilson says how unsure you are, shrinkage says what to actually
    * rank by.
    *
    * Exactness: per-supplier (n, k) are exact BIGINTs; the moment fit
    * runs on QUANTIZED micro-rates (k·10⁶ div n — exact integers, so
    * Σr and Σr² are order-free BIGINTs and no double ever sums across
    * suppliers); α, β and each shrunk rate close in one fixed-shape
    * double expression. Degenerate fleets (zero rate variance, or
    * variance ≥ m(1−m)) fall back to the unshrunk rate with the
    * fallback flagged.
    *
    * Scale (100 TB): one supplier-keyed aggregate over the fact
    * (map-side combined), a 1-row broadcast of the moment fit, then a
    * narrow per-supplier projection — no fold over the supplier dim,
    * which a collect-based moment pass would not survive at dim scale.
    */
  def qSuppShrunkLateRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .select($"l_suppkey",
        when(datediff(to_date($"l_shipdate"),
          to_date($"o_orderdate".cast("timestamp"))) > shrinkLateDays, 1L)
          .otherwise(0L).as("late"))
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n"), sum($"late").as("k"))
      .withColumn("r_micro", expr(s"(k * $rateMicro) div n"))
    val fit = per.agg(count(lit(1)).as("ns"),
      sum($"r_micro").as("sr"), sum($"r_micro" * $"r_micro").as("srr"))
      .select($"ns",
        ($"sr".cast("double") / ($"ns".cast("double") * rateMicro)).as("m"),
        (($"ns" * $"srr" - $"sr" * $"sr").cast("double") /
          (($"ns" * ($"ns" - 1)).cast("double") * rateMicro * rateMicro))
          .as("v"))
      .select($"ns", $"m", $"v",
        ($"v" > 0.0 && $"v" < $"m" * (lit(1.0) - $"m")).as("fit_ok"),
        when($"v" > 0.0 && $"v" < $"m" * (lit(1.0) - $"m"),
          $"m" * ($"m" * (lit(1.0) - $"m") / $"v" - 1.0))
          .otherwise(lit(0.0)).as("alpha"),
        when($"v" > 0.0 && $"v" < $"m" * (lit(1.0) - $"m"),
          (lit(1.0) - $"m") * ($"m" * (lit(1.0) - $"m") / $"v" - 1.0))
          .otherwise(lit(0.0)).as("beta"))
    per.crossJoin(broadcast(fit))
      .select($"l_suppkey".as("s_suppkey"), $"n".as("n_lines"), $"k".as("n_late"),
        ($"k".cast("double") / $"n".cast("double")).as("raw_rate"),
        when($"fit_ok",
          ($"k".cast("double") + $"alpha") / ($"n".cast("double") + $"alpha" + $"beta"))
          .otherwise($"k".cast("double") / $"n".cast("double")).as("shrunk_rate"),
        $"alpha", $"beta", $"fit_ok")
      .orderBy($"s_suppkey")
  }

  val qSuppShrunkLateRateSql: String = {
    val m = s"(CAST(sr AS DOUBLE) / (CAST(ns AS DOUBLE) * $rateMicro))"
    val v = s"(CAST(ns * srr - sr * sr AS DOUBLE) / " +
      s"(CAST(ns * (ns - 1) AS DOUBLE) * $rateMicro * $rateMicro))"
    val fitOk = s"($v > 0.0 AND $v < $m * (1.0 - $m))"
    val alpha = s"(CASE WHEN $fitOk THEN $m * ($m * (1.0 - $m) / $v - 1.0) ELSE 0.0 END)"
    val beta = s"(CASE WHEN $fitOk THEN (1.0 - $m) * ($m * (1.0 - $m) / $v - 1.0) ELSE 0.0 END)"
    s"""WITH per AS (
       |  SELECT l_suppkey, count(*) AS n,
       |    CAST(sum(CASE WHEN CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
       |          > $shrinkLateDays THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY l_suppkey
       |),
       |rated AS (
       |  SELECT l_suppkey, n, k, (k * $rateMicro) // n AS r_micro FROM per
       |),
       |fit AS (
       |  SELECT count(*) AS ns, CAST(sum(r_micro) AS BIGINT) AS sr,
       |    CAST(sum(r_micro * r_micro) AS BIGINT) AS srr
       |  FROM rated
       |),
       |consts AS (
       |  SELECT ns, $m AS m, $v AS v, $fitOk AS fit_ok,
       |    $alpha AS alpha, $beta AS beta
       |  FROM fit
       |)
       |SELECT l_suppkey AS s_suppkey, n AS n_lines, k AS n_late,
       |  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate,
       |  CASE WHEN fit_ok
       |    THEN (CAST(k AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + alpha + beta)
       |    ELSE CAST(k AS DOUBLE) / CAST(n AS DOUBLE) END AS shrunk_rate,
       |  alpha, beta, fit_ok
       |FROM rated CROSS JOIN consts
       |ORDER BY s_suppkey""".stripMargin
  }

  // ------------------------------------------------------------------
  // Dead-stock scorecard: how much of the catalog has stopped selling?
  // ------------------------------------------------------------------

  /** Weeks without a sale before a part counts as dead stock. Literal
    * RHS `final` per the init-cycle rule.
    */
  final val deadStockWeeks = 26L

  /** DEAD-STOCK SCORECARD per brand — the obsolescence view the
    * value-focused cuts miss: for every traded part, the age in weeks
    * since its LAST shipment (against the corpus horizon), and per
    * brand the count/share of parts silent for ≥ [[deadStockWeeks]]
    * weeks plus the age profile (mean/max). [[qPartAbcXyz]] says what
    * to stock by value and variability; this says what to STOP
    * stocking — the write-off candidate list every inventory review
    * starts from, and (dead share rising round-over-round) an early
    * catalog-rot indicator.
    *
    * Exactness: ages are exact integer weeks off epoch-day BIGINTs and
    * a 1-row horizon broadcast; counts and the max are integers; mean
    * age and dead share are single exact-to-double divisions.
    *
    * Scale (100 TB): one part-keyed max-aggregate over the fact
    * (map-side combined), a broadcast brand lookup, and a |brands|-row
    * rollup.
    */
  def qPartDeadStock(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_partkey",
        epochDay(to_date($"l_shipdate")).as("dn"))
    val horizon = li.agg(max($"dn").as("d_max"))
    val perPart = li.groupBy($"l_partkey").agg(max($"dn").as("last_dn"))
      .crossJoin(broadcast(horizon))
      .select($"l_partkey",
        expr(s"(d_max - last_dn) div $xyzWeekDays").as("age_w"))
    perPart
      .join(broadcast(Tables.part(spark, sfDir)
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
        sum(when($"age_w" >= deadStockWeeks, 1L).otherwise(0L)).as("n_dead"),
        sum($"age_w").as("sum_age"), max($"age_w").as("max_age_w"))
      .select($"p_brand", $"n_parts", $"n_dead",
        when($"n_parts" > 0, $"n_dead".cast("double") / $"n_parts")
          .otherwise(lit(0.0)).as("dead_share"),
        ($"sum_age".cast("double") / $"n_parts".cast("double")).as("mean_age_w"),
        $"max_age_w")
      .orderBy($"p_brand")
  }

  val qPartDeadStockSql: String =
    s"""WITH li AS (
       |  SELECT l_partkey,
       |    ${epochDaySql("CAST(l_shipdate AS DATE)")} AS dn
       |  FROM lineitem
       |),
       |horizon AS (SELECT max(dn) AS d_max FROM li),
       |per_part AS (
       |  SELECT l_partkey, (d_max - max(dn)) // $xyzWeekDays AS age_w
       |  FROM li CROSS JOIN horizon
       |  GROUP BY l_partkey, d_max
       |)
       |SELECT p_brand, count(*) AS n_parts,
       |  CAST(sum(CASE WHEN age_w >= $deadStockWeeks THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dead,
       |  CASE WHEN count(*) > 0
       |    THEN CAST(sum(CASE WHEN age_w >= $deadStockWeeks THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*)
       |    ELSE CAST(0.0 AS DOUBLE) END AS dead_share,
       |  CAST(sum(age_w) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_age_w,
       |  CAST(max(age_w) AS BIGINT) AS max_age_w
       |FROM per_part JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  val registry: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q_event_locf" -> ((qEventLocf _, qEventLocfSql)),
    "q_event_twa" -> ((qEventTwa _, qEventTwaSql)),
    "q_scd2_customer" -> ((qScd2Customer _, qScd2CustomerSql)),
    "q_table_diff_customer" -> ((qTableDiffCustomer _, qTableDiffCustomerSql)),
    "q_cust_entity_match" -> ((qCustEntityMatch _, qCustEntityMatchSql)),
    "q_cdc_apply_customer" -> ((qCdcApplyCustomer _, qCdcApplyCustomerSql)),
    "q_event_interp_daily" -> ((qEventInterpDaily _, qEventInterpDailySql)),
    "q_incr_agg_maintain" -> ((qIncrAggMaintain _, qIncrAggMaintainSql)),
    "q_incr_join_maintain" -> ((qIncrJoinMaintain _, qIncrJoinMaintainSql)),
    "q_join_card_est" -> ((qJoinCardEst _, qJoinCardEstSql)),
    "q_cust_rfm" -> ((qCustRfm _, qCustRfmSql)),
    "q_part_abc" -> ((qPartAbc _, qPartAbcSql)),
    "q_gdpr_erasure" -> ((qGdprErasure _, qGdprErasureSql)),
    "q_cust_k_anonymity" -> ((qCustKAnonymity _, qCustKAnonymitySql)),
    "q_line_skyline" -> ((qLineSkyline _, qLineSkylineSql)),
    "q_weighted_median" -> ((qWeightedMedian _, qWeightedMedianSql)),
    "q_benford_audit" -> ((qBenfordAudit _, qBenfordAuditSql)),
    "q_supp_hhi" -> ((qSuppHhi _, qSuppHhiSql)),
    "q_cust_lifecycle" -> ((qCustLifecycle _, qCustLifecycleSql)),
    "q_cust_bitemporal" -> ((qCustBitemporal _, qCustBitemporalSql)),
    "q_rev_bridge" -> ((qRevBridge _, qRevBridgeSql)),
    "q_cohort_ltv" -> ((qCohortLtv _, qCohortLtvSql)),
    "q_discount_elasticity" -> ((qDiscountElasticity _, qDiscountElasticitySql)),
    "q_line_woe" -> ((qLineWoe _, qLineWoeSql)),
    "q_cust_fs_weights" -> ((qCustFsWeights _, qCustFsWeightsSql)),
    "q_price_index" -> ((qPriceIndex _, qPriceIndexSql)),
    "q_cust_abc_migration" -> ((qCustAbcMigration _, qCustAbcMigrationSql)),
    "q_cust_cadence" -> ((qCustCadence _, qCustCadenceSql)),
    "q_nation_trade_balance" -> ((qNationTradeBalance _, qNationTradeBalanceSql)),
    "q_brand_return_rate" -> ((qBrandReturnRate _, qBrandReturnRateSql)),
    "q_part_single_source" -> ((qPartSingleSource _, qPartSingleSourceSql)),
    "q_part_abc_xyz" -> ((qPartAbcXyz _, qPartAbcXyzSql)),
    "q_brand_rank_tau" -> ((qBrandRankTau _, qBrandRankTauSql)),
    "q_seg_bullwhip" -> ((qSegBullwhip _, qSegBullwhipSql)),
    "q_leadtime_anova" -> ((qLeadtimeAnova _, qLeadtimeAnovaSql)),
    "q_supp_shrunk_late_rate" -> ((qSuppShrunkLateRate _, qSuppShrunkLateRateSql)),
    "q_part_dead_stock" -> ((qPartDeadStock _, qPartDeadStockSql))
  )
}
