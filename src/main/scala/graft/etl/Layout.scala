package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Exact.{epochDay, epochDaySql, h31, h31Sql}
import graft.model.Tables

/** Multi-dimensional data layout: Z-order (Morton) interleaving, the
  * write-time clustering that makes parquet min/max stats prune on TWO
  * dimensions at once. A table range-partitioned and sorted by one
  * column prunes scans filtered on that column only; laying files out
  * along the Z-curve keeps BOTH coordinates of each file's rows inside a
  * small bounding box, so a filter on either dimension (or both) skips
  * most files. This is the standard layout trick behind Delta/Iceberg
  * `ZORDER BY` — here as a plain column expression + `repartitionByRange`
  * so it composes with [[StarSchema.writeFact]]/[[Bucketing]] sinks.
  *
  * The interleave is pure closed-form bit arithmetic (shift/mask magic
  * spreading) — a narrow, codegen-friendly projection, no UDF, and
  * bit-identical in DuckDB (the SQL mirror emits the same shifts), so
  * layouts computed by different engines agree file-for-file.
  *
  * Scale (100 TB): `repartitionByRange` on the z-value is ONE range
  * exchange (sampled boundaries) at write time; reads then prune by
  * footer stats with zero runtime cost. The alternative — two separate
  * sorted copies of the table — doubles storage and write amplification.
  */
object Layout {

  /** Spread the low 8 bits of `c` to the even bit positions 0,2,…,14. */
  private def spread8(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(255L))
    val x1 = x0.bitwiseOR(shiftleft(x0, 4)).bitwiseAND(lit(0x0F0FL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 2)).bitwiseAND(lit(0x3333L))
    x2.bitwiseOR(shiftleft(x2, 1)).bitwiseAND(lit(0x5555L))
  }

  /** 16-bit Z-value interleaving the low 8 bits of two non-negative
    * dimensions: bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Callers bucket/mask wider domains down to 8 bits first —
    * the curve needs only enough resolution to separate files, not rows.
    */
  def zValue8(a: Column, b: Column): Column =
    spread8(a).bitwiseOR(shiftleft(spread8(b), 1))

  /** SQL mirror of [[spread8]]/[[zValue8]] (same shifts and masks, for
    * oracle parity and for engines consuming the layout contract as SQL).
    */
  private def spread8Sql(e: String): String = {
    val x0 = s"($e & 255)"
    val x1 = s"(($x0 | ($x0 << 4)) & 3855)"
    val x2 = s"(($x1 | ($x1 << 2)) & 13107)"
    s"(($x2 | ($x2 << 1)) & 21845)"
  }

  def zValue8Sql(a: String, b: String): String =
    s"(${spread8Sql(a)} | (${spread8Sql(b)} << 1))"

  /** Z-curve layout audit of the event stream along (user bucket,
    * day-of-month): each event's z-value, rolled up into 64 equal-width
    * curve segments with each segment's row count and its bounding box
    * in BOTH dimensions. Small boxes = the locality that makes file
    * skipping work; LayoutSpec quantifies it against the global extent
    * and asserts the range-partitioned write path plans a single range
    * exchange.
    */
  def qEventZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(pmod(col("user_id"), lit(256L)).as("d1"),
        dayofmonth(col("ts")).cast("long").as("d2"))
      .select(col("d1"), col("d2"), zValue8(col("d1"), col("d2")).as("z"))
    ev.groupBy(shiftright(col("z"), 10).cast("int").as("z_segment"))
      .agg(count(lit(1)).as("n"),
        min(col("d1")).as("d1_lo"), max(col("d1")).as("d1_hi"),
        min(col("d2")).as("d2_lo"), max(col("d2")).as("d2_hi"))
      .orderBy(col("z_segment"))
  }

  val qEventZorderSql: String = {
    val z = zValue8Sql("(user_id % 256)", "CAST(date_part('day', ts) AS BIGINT)")
    s"""WITH ev AS (
       |  SELECT (user_id % 256) AS d1,
       |    CAST(date_part('day', ts) AS BIGINT) AS d2,
       |    $z AS z
       |  FROM events
       |)
       |SELECT CAST(z // 1024 AS INTEGER) AS z_segment, count(*) AS n,
       |  min(d1) AS d1_lo, max(d1) AS d1_hi,
       |  min(d2) AS d2_lo, max(d2) AS d2_hi
       |FROM ev GROUP BY z_segment ORDER BY z_segment""".stripMargin
  }

  // ------------------------------------------------------------------
  // Zone-map pruning audit: arrival vs value-sorted layout
  // ------------------------------------------------------------------

  /** Rows per simulated row group for [[qLayoutZonemap]] (small enough
    * that even the sf0.001 smoke table spans several zones) and the
    * audited range predicate on `value` (≈2% selectivity on the
    * synthetic distribution).
    */
  final val zonemapRows = 128L
  final val zonemapLo = 50.0
  final val zonemapHi = 60.0

  /** ZONE-MAP (min/max footer) PRUNING AUDIT — the quantified version of
    * "sort your data so scans can skip": assign every event to a
    * [[zonemapRows]]-row zone under two layouts, ARRIVAL order (ingest
    * as-is) and VALUE-SORTED (the write-time clustering
    * [[qEventZorder]] generalizes), compute each zone's min/max exactly
    * as a parquet footer would, and report per layout how many zones a
    * `value BETWEEN` scan skips and how many rows it must still read.
    * The sorted layout concentrates the predicate range into few zones
    * (rows_scanned → matched rows rounded up to zone size); the arrival
    * layout's zones all straddle the range and prune nothing — THE
    * reason layout maintenance exists.
    *
    * Scale (100 TB): the audit itself is one pass per layout (zone id is
    * a narrow projection for arrival; one range-exchange sort for the
    * sorted variant — the exact cost a real re-layout pays at write
    * time, which is the point) plus a zones-sized rollup. The
    * production decision this feeds: whether paying that one sort is
    * worth the per-query skip rate, answered by `rows_scanned` here.
    */
  def qLayoutZonemap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    val arrival = ev.select(expr(s"event_id div $zonemapRows").as("zone"),
      col("value"))
    val sorted = ev
      .withColumn("rn",
        (row_number().over(Window.orderBy(col("value"), col("event_id"))) - 1)
          .cast("long"))
      .select(expr(s"rn div $zonemapRows").as("zone"), col("value"))
    def audit(name: String, zoned: DataFrame): DataFrame = {
      val zones = zoned.groupBy(col("zone"))
        .agg(min(col("value")).as("mn"), max(col("value")).as("mx"),
          count(lit(1)).as("n"))
      zones.agg(
        count(lit(1)).as("n_zones"),
        sum(when(col("mx") < zonemapLo || col("mn") > zonemapHi, 1L).otherwise(0L))
          .as("n_pruned"),
        sum(when(col("mx") < zonemapLo || col("mn") > zonemapHi, 0L)
          .otherwise(col("n"))).as("rows_scanned"))
        .crossJoin(broadcast(
          zoned.filter(col("value").between(zonemapLo, zonemapHi))
            .agg(count(lit(1)).as("rows_matched"))))
        .select(lit(name).as("layout"), col("n_zones"), col("n_pruned"),
          (col("n_pruned").cast("double") / col("n_zones").cast("double"))
            .as("prune_frac"),
          col("rows_scanned"), col("rows_matched"),
          (col("rows_scanned").cast("double") / col("rows_matched").cast("double"))
            .as("read_amplification"))
    }
    audit("arrival", arrival).unionAll(audit("value_sorted", sorted))
      .orderBy(col("layout"))
  }

  val qLayoutZonemapSql: String = {
    def audit(name: String, zonedRel: String): String =
      s"""SELECT '$name' AS layout,
         |  count(*) AS n_zones,
         |  CAST(sum(CASE WHEN mx < $zonemapLo OR mn > $zonemapHi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pruned,
         |  CAST(sum(CASE WHEN mx < $zonemapLo OR mn > $zonemapHi THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS prune_frac,
         |  CAST(sum(CASE WHEN mx < $zonemapLo OR mn > $zonemapHi THEN 0 ELSE n END) AS BIGINT)
         |    AS rows_scanned,
         |  (SELECT count(*) FROM events WHERE value BETWEEN $zonemapLo AND $zonemapHi)
         |    AS rows_matched,
         |  CAST(sum(CASE WHEN mx < $zonemapLo OR mn > $zonemapHi THEN 0 ELSE n END) AS DOUBLE)
         |    / CAST((SELECT count(*) FROM events WHERE value BETWEEN $zonemapLo AND $zonemapHi) AS DOUBLE)
         |    AS read_amplification
         |FROM (SELECT zone, min(value) AS mn, max(value) AS mx, count(*) AS n
         |      FROM $zonedRel GROUP BY zone) z""".stripMargin
    s"""WITH arrival AS (
       |  SELECT event_id // $zonemapRows AS zone, value FROM events
       |),
       |sorted AS (
       |  SELECT (row_number() OVER (ORDER BY value, event_id) - 1) // $zonemapRows
       |    AS zone, value
       |  FROM events
       |)
       |${audit("arrival", "arrival")}
       |UNION ALL
       |${audit("value_sorted", "sorted")}
       |ORDER BY layout""".stripMargin
  }

  // ------------------------------------------------------------------
  // Compaction planning: running-total file grouping
  // ------------------------------------------------------------------

  /** Generic small-file compaction planner — the metadata pass behind
    * `OPTIMIZE`/rewrite-data-files table maintenance: assign each file
    * of a partition to a merge group by RUNNING TOTAL, group =
    * bytes-accumulated-BEFORE-the-file integer-divided by the target
    * size (then dense-renumbered per partition so group ids are
    * consecutive even when one jumbo file spans several target
    * stripes). The assignment is deterministic, one-pass, and
    * ORDER-PRESERVING: merged files stay contiguous in the partition's
    * file order, so a sort/Z-order layout ([[zValue8]]) laid down at
    * write time survives compaction — a bin-packing assignment that
    * mixes distant files would destroy it.
    *
    * Guarantees (asserted in LayoutSpec): group ids are consecutive
    * from 0 and non-decreasing in file order; byte mass is conserved;
    * and a group overshoots `targetBytes` by at most its own LAST file
    * (the stripe's boundary file) — first-fit on the pre-sum can never
    * close a group early.
    *
    * Scale (100 TB): the input is the FILE LISTING — one row per file,
    * metadata-scale, millions of rows for a 100 TB table, not the data
    * itself — and the plan is ONE window pass per partition (running
    * sum + integer division + dense renumber on the same window
    * partitioning, so a single exchange). The planner never touches
    * data bytes; executing the plan is the separate (embarrassingly
    * parallel, one task per group) rewrite job.
    */
  def compactionPlan(files: DataFrame, partCol: String, fileCol: String,
      bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val order = Window.partitionBy(col(partCol)).orderBy(col(fileCol))
    val before = order.rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("bytes_before", coalesce(sum(col(bytesCol)).over(before), lit(0L)))
      .withColumn("grp_raw", expr(s"bytes_before div ${targetBytes}L"))
      .withColumn("grp", (dense_rank().over(
        Window.partitionBy(col(partCol)).orderBy(col("grp_raw"))) - 1).cast("long"))
      .drop("bytes_before", "grp_raw")
  }

  /** Compaction plan over the event table's (event_type, day) "files" —
    * the per-partition-per-day output a streaming ingest actually
    * produces, with row count × an assumed 64-byte average row as the
    * size proxy. Rolled up per merge group: files, bytes, covered day
    * span (contiguous by construction — the order-preserving property
    * made visible).
    */
  def qEventCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    val files = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        epochDay(to_date(col("ts"))).as("day"))
      .agg((count(lit(1)) * 64L).as("bytes"))
    compactionPlan(files, "event_type", "day", "bytes", targetBytes = 50000L)
      .groupBy(col("event_type"), col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("grp_bytes"),
        min(col("day")).as("day_lo"), max(col("day")).as("day_hi"))
      .orderBy(col("event_type"), col("grp"))
  }

  val qEventCompactionSql: String =
    s"""WITH files AS (
      |  SELECT event_type,
      |    ${epochDaySql("CAST(ts AS DATE)")} AS day,
      |    count(*) * 64 AS bytes
      |  FROM events GROUP BY event_type, day
      |),
      |assigned AS (
      |  SELECT event_type, day, bytes,
      |    COALESCE(sum(bytes) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 50000 AS grp_raw
      |  FROM files
      |),
      |renum AS (
      |  SELECT event_type, day, bytes,
      |    CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY grp_raw) - 1 AS BIGINT) AS grp
      |  FROM assigned
      |)
      |SELECT event_type, grp, count(*) AS n_files,
      |  CAST(sum(bytes) AS BIGINT) AS grp_bytes,
      |  min(day) AS day_lo, max(day) AS day_hi
      |FROM renum GROUP BY event_type, grp
      |ORDER BY event_type, grp""".stripMargin

  // ------------------------------------------------------------------
  // Join-key skew diagnosis: the shuffle-planning pre-flight
  // ------------------------------------------------------------------

  /** Exact order-statistic percentiles over the key-frequency table for
    * one relation/key: frequency histogram → freq-of-freq histogram →
    * cumulative-count thresholding. Returns ONE row of skew stats.
    *
    * Scale (100 TB): the percentile runs over the freq-OF-freq histogram
    * — bounded by the number of DISTINCT frequency values (heavy-tailed
    * key distributions have few), never the key cardinality — so the
    * only corpus-scale work is the one map-side-combined key count; the
    * single-partition cumulative window sees a handful of rows. This is
    * what lets the diagnosis run as a cheap pre-flight before every big
    * join rather than a sampled guess.
    */
  private def keySkew(df: DataFrame, key: String, relName: String): DataFrame = {
    val freq = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("f"))
    val ff = freq.groupBy(col("f")).agg(count(lit(1)).as("nk"))
    val wCum = Window.orderBy(col("f"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ff.select(col("f"), col("nk"), sum(col("nk")).over(wCum).as("cum"))
    val tot = cum.agg(sum(col("nk")).as("n_keys"), max(col("f")).as("max_freq"),
      sum(col("f") * col("nk")).as("n_rows"))
    cum.crossJoin(broadcast(tot))
      .agg(
        max(col("n_rows")).as("n_rows"), max(col("n_keys")).as("n_keys"),
        max(col("max_freq")).as("max_freq"),
        min(when(col("cum") * 2 >= col("n_keys"), col("f"))).as("p50_freq"),
        min(when(col("cum") * 100 >= col("n_keys") * 99, col("f"))).as("p99_freq"))
      .select(lit(relName).as("rel"), col("n_rows"), col("n_keys"),
        col("max_freq"), col("p50_freq"), col("p99_freq"),
        (col("max_freq").cast("double") / col("n_rows").cast("double")).as("top1_share"),
        ((col("max_freq") * col("n_keys")).cast("double") / col("n_rows").cast("double"))
          .as("skew_ratio"),
        expr("(max_freq * n_keys + n_rows - 1) div n_rows").as("salt_factor"))
  }

  private def keySkewSql(rel: String, key: String, relName: String): String =
    s"""SELECT '$relName' AS rel, n_rows, n_keys, max_freq,
       |  (SELECT min(f) FROM cum_$relName c WHERE c.cum * 2 >= t.n_keys) AS p50_freq,
       |  (SELECT min(f) FROM cum_$relName c WHERE c.cum * 100 >= t.n_keys * 99) AS p99_freq,
       |  CAST(max_freq AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1_share,
       |  CAST(max_freq * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE) AS skew_ratio,
       |  CAST((max_freq * n_keys + n_rows - 1) // n_rows AS BIGINT) AS salt_factor
       |FROM t_$relName t""".stripMargin

  private def keySkewCtes(rel: String, key: String, relName: String): String =
    s"""ff_$relName AS (
       |  SELECT f, count(*) AS nk
       |  FROM (SELECT $key AS k, count(*) AS f FROM $rel GROUP BY $key)
       |  GROUP BY f
       |),
       |cum_$relName AS (
       |  SELECT f, nk, CAST(sum(nk) OVER (ORDER BY f
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM ff_$relName
       |),
       |t_$relName AS (
       |  SELECT CAST(sum(f * nk) AS BIGINT) AS n_rows,
       |    CAST(sum(nk) AS BIGINT) AS n_keys, max(f) AS max_freq
       |  FROM ff_$relName
       |)""".stripMargin

  /** The relation/key pairs the skew report audits — the three join keys
    * every TPC-H-shaped workload shuffles on.
    */
  private def skewTargets(spark: SparkSession, sfDir: String) = Seq(
    (Tables.lineitem(spark, sfDir), "l_partkey", "lineitem_partkey"),
    (Tables.lineitem(spark, sfDir), "l_suppkey", "lineitem_suppkey"),
    (Tables.orders(spark, sfDir), "o_custkey", "orders_custkey"))

  /** Join-key skew diagnosis — the pre-shuffle report that decides
    * whether a join needs AQE skew handling, salting (the
    * [[graft.queries.Joins]] salted-enrich path), or a broadcast: for
    * each audited key, exact row/key counts, the max and exact-p50/p99
    * key frequencies, the heaviest key's row share, the skew ratio
    * (max/avg frequency), and the integer salt factor
    * (ceil(max_freq/avg_freq)) a salted repartition would need to level
    * the heaviest key — the actionable knob, computed exactly, not from
    * a sample. See [[keySkew]] for why this costs one aggregate per key
    * at any scale.
    */
  def qSkewDiagnosis(spark: SparkSession, sfDir: String): DataFrame =
    skewTargets(spark, sfDir)
      .map { case (df, key, name) => keySkew(df, key, name) }
      .reduce(_.unionAll(_))
      .orderBy(col("rel"))

  val qSkewDiagnosisSql: String = {
    val targets = Seq(("lineitem", "l_partkey", "lineitem_partkey"),
      ("lineitem", "l_suppkey", "lineitem_suppkey"),
      ("orders", "o_custkey", "orders_custkey"))
    s"""WITH ${targets.map { case (r, k, n) => keySkewCtes(r, k, n) }.mkString(",\n")}
       |${targets.map { case (r, k, n) => keySkewSql(r, k, n) }.mkString("\nUNION ALL\n")}
       |ORDER BY rel""".stripMargin
  }

  // ------------------------------------------------------------------
  // Capacity advisor: file counts and shuffle partitions from data size
  // ------------------------------------------------------------------

  /** Sizing constants (bytes): parquet target file 128 MiB, shuffle
    * partition target 64 MiB, broadcast ceiling 10 MiB (Spark's
    * `autoBroadcastJoinThreshold` default). Literal-RHS `final` per the
    * init-cycle rule.
    */
  final val advFileBytes = 134217728L
  final val advShuffleBytes = 67108864L
  final val advBroadcastBytes = 10485760L

  /** Layout/capacity advisor: per table, an uncompressed in-memory size
    * estimate measured FROM THE DATA (fixed-width columns at their type
    * width, strings at actual summed length) and the three numbers every
    * write/join decision needs — target parquet file count (128 MiB),
    * shuffle partition count (64 MiB), and the broadcast-vs-shuffle join
    * verdict (10 MiB, Spark's default `autoBroadcastJoinThreshold`).
    * The settings half of [[qSkewDiagnosis]]: that op says how to KEY a
    * shuffle, this one says how MANY partitions to give it — together
    * they replace the folklore `spark.sql.shuffle.partitions=200` with
    * numbers derived from the bytes actually present.
    *
    * Exactness: every estimate is exact integer arithmetic (string
    * lengths sum as BIGINTs; ceilings are add-and-integer-divide, never
    * float ceil), so the advice is bit-identical cross-engine.
    *
    * Scale (100 TB): ONE single-row aggregate per table (map-side
    * combined) over a narrow projection — the advisor costs one column
    * scan of the string columns and nothing else; at real scale the
    * same query runs over parquet footer statistics instead, same
    * output shape.
    */
  def qLayoutAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    def advise(df: DataFrame, tbl: String, fixedWidth: Long,
        strCols: Seq[String]): DataFrame = {
      val strBytes = strCols
        .map(c => sum(length(col(c)).cast("long")).as(s"len_$c"))
      val agg = df.agg(count(lit(1)).as("n_rows"), strBytes: _*)
      agg.select(lit(tbl).as("tbl"), col("n_rows"),
          (col("n_rows") * fixedWidth +
            strCols.map(c => col(s"len_$c")).reduce(_ + _)).as("est_bytes"))
        .select(col("tbl"), col("n_rows"), col("est_bytes"),
          expr(s"(est_bytes + ${advFileBytes - 1}) div $advFileBytes")
            .as("files_128mb"),
          expr(s"(est_bytes + ${advShuffleBytes - 1}) div $advShuffleBytes")
            .as("shuffle_parts_64mb"),
          when(col("est_bytes") < advBroadcastBytes, lit("broadcast"))
            .otherwise(lit("shuffle")).as("join_side_advice"))
    }
    // fixed widths: 8 per long/double/timestamp, 4 per int
    advise(Tables.customer(spark, sfDir), "customer", 8 + 4 + 8,
        Seq("c_name", "c_mktsegment"))
      .unionAll(advise(Tables.orders(spark, sfDir), "orders", 8 + 8 + 8 + 8,
        Seq("o_orderstatus", "o_orderpriority")))
      .unionAll(advise(Tables.lineitem(spark, sfDir), "lineitem",
        8 + 8 + 8 + 4 + 8 * 4 + 8, Seq("l_returnflag", "l_linestatus")))
      .orderBy(col("tbl"))
  }

  val qLayoutAdvisorSql: String = {
    def arm(tbl: String, fixedWidth: Long, strCols: Seq[String]): String = {
      val strSum = strCols.map(c => s"CAST(sum(length($c)) AS BIGINT)").mkString(" + ")
      s"""SELECT '$tbl' AS tbl, count(*) AS n_rows,
         |  count(*) * $fixedWidth + $strSum AS est_bytes
         |FROM $tbl""".stripMargin
    }
    s"""WITH sized AS (
       |  ${arm("customer", 8 + 4 + 8, Seq("c_name", "c_mktsegment"))}
       |  UNION ALL
       |  ${arm("orders", 8 + 8 + 8 + 8, Seq("o_orderstatus", "o_orderpriority"))}
       |  UNION ALL
       |  ${arm("lineitem", 8 + 8 + 8 + 4 + 8 * 4 + 8, Seq("l_returnflag", "l_linestatus"))}
       |)
       |SELECT tbl, n_rows, CAST(est_bytes AS BIGINT) AS est_bytes,
       |  CAST((est_bytes + ${advFileBytes - 1}) // $advFileBytes AS BIGINT) AS files_128mb,
       |  CAST((est_bytes + ${advShuffleBytes - 1}) // $advShuffleBytes AS BIGINT)
       |    AS shuffle_parts_64mb,
       |  CASE WHEN est_bytes < $advBroadcastBytes THEN 'broadcast' ELSE 'shuffle' END
       |    AS join_side_advice
       |FROM sized
       |ORDER BY tbl""".stripMargin
  }

  // ------------------------------------------------------------------
  // Shard-map rebalance audit: mod-N vs consistent-hash ring
  // ------------------------------------------------------------------

  /** Shard-map geometry: 8 shards growing to 9, 16 virtual nodes per
    * shard on the ring. `final` literals per the init-cycle rule.
    */
  final val shardN = 8
  final val shardVnodes = 16

  /** Ring tie-break scale: vnode positions are 31-bit, so
    * `pos · 1024 + idx` is a unique BIGINT ordering key (idx < N·V ≤
    * 1024) — ties between colliding vnode positions break
    * deterministically toward the lower (shard, vnode) index.
    */
  final val ringTieScale = 1024L

  /** SHARD-MAP REBALANCE audit — the data-movement bill for growing a
    * keyed store from N=8 to 9 shards under the two standard placement
    * schemes, measured on the real key population: `mod` (shard =
    * hash % N — moves ~N/(N+1) of ALL keys) vs `ring` (consistent
    * hashing, 16 vnodes/shard — moves only the keys falling into the
    * arcs the new shard claims, ~1/(N+1)). The number that decides
    * whether a resharding is an online no-op or a cluster-wide
    * rewrite; the same arithmetic audits Spark's own hash
    * partitioning when `spark.sql.shuffle.partitions` changes.
    *
    * Exactness: positions are the registry's portable 31-bit md5 hash;
    * ring placement is an integer argmin over the vnode table with a
    * unique scalar tie key; every count is BIGINT, the two fractions
    * are single divisions.
    *
    * Scale (100 TB): the vnode table is (N+1)·V ≤ 144 rows — BROADCAST
    * by construction; each key computes its successor arc in one pass
    * (greatest-pos-≤ via conditional min over the broadcast table —
    * never a range shuffle), so the audit is one map + one 2-row
    * aggregate. The documented production form replaces the
    * cross-probe with a sorted-array binary search in a map-side
    * expression; the counts are identical.
    */
  def qShardRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    // DISTINCT positions: 31-bit collisions would otherwise give the two
    // schemes different key populations (ring groups by pos, mod doesn't)
    val keys = Tables.documents(spark, sfDir)
      .select(h31(col("doc_id").cast("string")).as("pos"))
      .distinct()
    def vnodes(n: Int): DataFrame = {
      val rows = for { s <- 0 until n; v <- 0 until shardVnodes }
        yield (s.toLong, v.toLong)
      val spark0 = keys.sparkSession
      import spark0.implicits._
      rows.toDF("shard", "vnode")
        .select($"shard", $"vnode",
          h31(concat(lit("shard#"), $"shard", lit("#"), $"vnode")).as("vpos"),
          ($"shard" * shardVnodes + $"vnode").as("idx"))
    }
    // ring placement: successor vnode (min vpos >= key pos, wrap to the
    // global min) with the unique scalar tie key
    def ringAssign(n: Int, out: String): DataFrame =
      keys.crossJoin(broadcast(vnodes(n)))
        .groupBy(col("pos"))
        .agg(
          min(when(col("vpos") >= col("pos"),
            col("vpos") * ringTieScale + col("idx"))).as("succ"),
          min(col("vpos") * ringTieScale + col("idx")).as("wrap"))
        .select(col("pos"),
          expr(s"(coalesce(succ, wrap) % $ringTieScale) div $shardVnodes")
            .as(out))
    val modMoved = keys
      .select((col("pos") % shardN).as("before"),
        (col("pos") % (shardN + 1)).as("after"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("before") =!= col("after"), 1L).otherwise(0L)).as("moved"),
        max(lit("mod")).as("scheme"))
    val ringMoved = ringAssign(shardN, "before")
      .join(ringAssign(shardN + 1, "after"), "pos")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("before") =!= col("after"), 1L).otherwise(0L)).as("moved"),
        max(lit("ring")).as("scheme"))
    modMoved.unionAll(ringMoved)
      .select(col("scheme"), col("n_keys"), col("moved"),
        (col("moved").cast("double") / col("n_keys")).as("moved_frac"))
      .orderBy(col("scheme"))
  }

  val qShardRebalanceSql: String = {
    def vnodeRows(n: Int): String =
      (for { s <- 0 until n; v <- 0 until shardVnodes }
        yield s"($s, $v)").mkString(", ")
    def ring(n: Int, tbl: String, out: String): String =
      s"""$tbl AS (
         |  SELECT k.pos,
         |    (COALESCE(
         |      min(CASE WHEN v.vpos >= k.pos
         |          THEN v.vpos * $ringTieScale + v.idx END),
         |      min(v.vpos * $ringTieScale + v.idx)) % $ringTieScale)
         |      // $shardVnodes AS $out
         |  FROM keys k CROSS JOIN (
         |    SELECT shard, vnode,
         |      ${h31Sql("('shard#' || shard || '#' || vnode)")} AS vpos,
         |      shard * $shardVnodes + vnode AS idx
         |    FROM (SELECT * FROM (VALUES ${vnodeRows(n)}) AS t(shard, vnode))
         |  ) v
         |  GROUP BY k.pos
         |)""".stripMargin
    s"""WITH keys AS (
       |  SELECT DISTINCT ${h31Sql("CAST(doc_id AS VARCHAR)")} AS pos FROM documents
       |),
       |${ring(shardN, "ring_before", "before_s")},
       |${ring(shardN + 1, "ring_after", "after_s")},
       |mod_row AS (
       |  SELECT 'mod' AS scheme, CAST(count(*) AS BIGINT) AS n_keys,
       |    CAST(sum(CASE WHEN pos % $shardN <> pos % ${shardN + 1}
       |        THEN 1 ELSE 0 END) AS BIGINT) AS moved
       |  FROM keys
       |),
       |ring_row AS (
       |  SELECT 'ring' AS scheme, CAST(count(*) AS BIGINT) AS n_keys,
       |    CAST(sum(CASE WHEN before_s <> after_s THEN 1 ELSE 0 END) AS BIGINT) AS moved
       |  FROM ring_before JOIN ring_after USING (pos)
       |)
       |SELECT scheme, n_keys, moved,
       |  CAST(moved AS DOUBLE) / n_keys AS moved_frac
       |FROM (SELECT * FROM mod_row UNION ALL SELECT * FROM ring_row)
       |ORDER BY scheme""".stripMargin
  }

  val registry: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q_event_zorder" -> ((qEventZorder _, qEventZorderSql)),
    "q_layout_zonemap" -> ((qLayoutZonemap _, qLayoutZonemapSql)),
    "q_event_compaction" -> ((qEventCompaction _, qEventCompactionSql)),
    "q_skew_diagnosis" -> ((qSkewDiagnosis _, qSkewDiagnosisSql)),
    "q_layout_advisor" -> ((qLayoutAdvisor _, qLayoutAdvisorSql)),
    "q_shard_rebalance" -> ((qShardRebalance _, qShardRebalanceSql))
  )
}
