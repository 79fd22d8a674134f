package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dimension tables of the star schema (SURVEY §1.1) + the dim-side query
  * surface. Three source kinds:
  *
  *   - STATIC dims (S3, ny:108-161,187-199): in-memory literal relations
  *     from the reference's data contract. `dim_trip_peak_band` implements
  *     the INTENDED 3 rows — the reference's single-dict literal collapses
  *     to 1 row (duplicate keys, SURVEY §1.4 B1); we keep the ER-diagram
  *     semantics and document the divergence here.
  *   - GENERATED dims (S4/S5/X4/X5, ny:163-185,201-218): `spark.sql`
  *     (§2.8 SQL surface) `sequence`+`explode` row generators; `dim_time`
  *     goes through a temp view (K4, ny:206) exactly like the reference.
  *   - FILE dim (S2, ny:220-228): header-inferred CSV zone lookup (all
  *     columns land as strings — schema-on-read parity).
  *
  * Scale notes: every dim here is constant-size (≤86 400 rows) regardless
  * of fact volume — always broadcast-safe, and generated dims cost zero I/O
  * (one-row seed exploded executor-side). Star joins against them are
  * map-side at any scale.
  */
object Dims {

  // --- S3: static dims from the reference data contract (ny:108-161) ---

  private def literalDim(spark: SparkSession, cols: (String, String), rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF(cols._1, cols._2)
  }

  /** ny:108-123 */
  def dimVendors(spark: SparkSession): DataFrame =
    literalDim(spark, ("vendor_id", "vendor_name"), Seq(
      "1" -> "Creative Mobile Technologies, LLC",
      "2" -> "Curb Mobility, LLC",
      "6" -> "Myle Technologies Inc",
      "7" -> "Helix"))

  /** ny:125-134 */
  def dimRatecode(spark: SparkSession): DataFrame =
    literalDim(spark, ("rate_code_id", "rate_code_description"), Seq(
      "1" -> "Standard rate", "2" -> "JFK", "3" -> "Newark",
      "4" -> "Nassau or Westchester", "5" -> "Negotiated fare",
      "6" -> "Group ride", "99" -> "Null/unknown"))

  /** ny:136-148 */
  def dimStoreAndFwdFlag(spark: SparkSession): DataFrame =
    literalDim(spark, ("store_and_fwd_flag_id", "store_and_fwd_flag_description"), Seq(
      "1" -> "store and forward trip",
      "0" -> "not a store and forward trip"))

  /** ny:150-161 */
  def dimPaymentType(spark: SparkSession): DataFrame =
    literalDim(spark, ("payment_type_id", "payment_type_description"), Seq(
      "0" -> "Flex Fare trip", "1" -> "Credit card", "2" -> "Cash",
      "3" -> "No charge", "4" -> "Dispute", "5" -> "Unknown",
      "6" -> "Voided trip"))

  /** ny:187-199 with B1 FIXED: the intended 3 bands (ids match the
    * derivation ny:310-313 and the ER diagram), not the reference's
    * collapsed 1-row literal.
    */
  def dimTripPeakBand(spark: SparkSession): DataFrame =
    literalDim(spark, ("trip_peak_band_id", "trip_peak_band_description"), Seq(
      "101" -> "Night Hour", "102" -> "Peak Hour", "103" -> "Off-Peak"))

  // --- S4: generated dim_date (ny:163-185) ---

  /** `spark.sql` seed (§2.8) → `withColumns` over the SAME input date column
    * (so the `date` overwrite sees the original DATE, exactly like the
    * reference's single withColumns call — the final `date` column is the
    * day-of-month STRING, a reference quirk we keep).
    */
  def dimDate(spark: SparkSession): DataFrame = {
    val seed = spark.sql(
      "SELECT explode(sequence(to_date('2000-01-01'), to_date('2030-01-01'))) AS date")
    seed.withColumns(Map(
      "date_id" -> date_format(col("date"), "yMMdd"),
      "date" -> date_format(col("date"), "d"),
      "month" -> date_format(col("date"), "M"),
      "year" -> date_format(col("date"), "y"),
      "day_short" -> date_format(col("date"), "E"),
      "day_long" -> date_format(col("date"), "EEEE"),
      "month_short" -> date_format(col("date"), "LLL"),
      "month_long" -> date_format(col("date"), "LLLL"),
      "is_weekend" -> when(date_format(col("date"), "EEE").isin("Sat", "Sun"), "Yes")
        .otherwise("No")))
  }

  // --- S5/K4: generated dim_time (ny:201-218), temp-view bridged ---

  def dimTime(spark: SparkSession): DataFrame = {
    spark.sql(
      """SELECT explode(sequence(to_timestamp('2000-01-01 00:00:00'),
        |  to_timestamp('2000-01-01 23:59:59'), interval 1 second)) AS date""".stripMargin)
      .createOrReplaceTempView("graft_dim_time_seed") // K4, ny:206
    spark.sql(
      """SELECT date_format(date,'HHmmss') AS time_id,
        |  date_format(date,'H') AS hour,
        |  date_format(date,'m') AS minute,
        |  date_format(date,'s') AS second
        |FROM graft_dim_time_seed""".stripMargin)
  }

  // --- S2: CSV file dim (ny:220-228) ---

  /** Deterministic zone lookup committed at data/ (the reference's
    * `taxi_zone_lookup.csv` is an S3 object we cannot ship; same shape:
    * LocationID,Borough,Zone,service_zone, 265 zones). Header-inferred →
    * all string columns, like the reference.
    *
    * Resolution order: GRAFT_ZONE_CSV, then
    * data/taxi_zone_lookup.csv under the JVM working directory, then the
    * copy the build ships on the classpath (so any working directory
    * works). The resolved absolute path is interpolated into the oracle
    * SQL too, so any checkout location works (ADVICE r3).
    */
  val zoneCsvPath: String = resolveZoneCsv(
    sys.env.get("GRAFT_ZONE_CSV"),
    new java.io.File(sys.props("user.dir")))

  private[etl] def resolveZoneCsv(overridePath: Option[String], workDir: java.io.File): String =
    overridePath.getOrElse {
      val local = new java.io.File(workDir, "data/taxi_zone_lookup.csv")
      if (local.isFile) local.getAbsolutePath
      else Option(getClass.getResource("/taxi_zone_lookup.csv")).map(zoneCsvFile)
        .getOrElse(local.getAbsolutePath)
    }

  /** A file path for the classpath copy: the file itself when the
    * classpath is a directory, else (inside a jar) a temp-file extract,
    * since the DuckDB oracle reads the CSV by path.
    */
  private[etl] def zoneCsvFile(resource: java.net.URL): String =
    if (resource.getProtocol == "file") new java.io.File(resource.toURI).getAbsolutePath
    else {
      val tmp = java.nio.file.Files.createTempFile("taxi_zone_lookup", ".csv")
      tmp.toFile.deleteOnExit()
      val in = resource.openStream()
      try java.nio.file.Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.toAbsolutePath.toString
    }

  def dimTaxiZoneLookup(spark: SparkSession, path: String = zoneCsvPath): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      throw new java.io.FileNotFoundException(s"taxi zone lookup CSV not found at $path; " +
        "point GRAFT_ZONE_CSV at data/taxi_zone_lookup.csv")
    spark.read.option("header", "true").csv(path)
  }

  // ------------------------------------------------------------------
  // Query surface
  // ------------------------------------------------------------------

  private val dimDateOracleCte =
    """dim_date_g AS (
      |  SELECT CAST(g AS DATE) AS d
      |  FROM (SELECT unnest(generate_series(DATE '2000-01-01', DATE '2030-01-01', INTERVAL 1 DAY)) AS g)
      |),
      |dim_date AS (
      |  SELECT strftime(d, '%Y%m%d') AS date_id,
      |    strftime(d, '%-d') AS date,
      |    strftime(d, '%-m') AS month,
      |    strftime(d, '%Y') AS year,
      |    substr(dayname(d), 1, 3) AS day_short,
      |    dayname(d) AS day_long,
      |    substr(monthname(d), 1, 3) AS month_short,
      |    monthname(d) AS month_long,
      |    CASE WHEN substr(dayname(d), 1, 3) IN ('Sat','Sun') THEN 'Yes' ELSE 'No' END AS is_weekend
      |  FROM dim_date_g
      |)""".stripMargin

  def qDimDate(spark: SparkSession, sfDir: String): DataFrame =
    dimDate(spark).orderBy(col("date_id"))

  val qDimDateSql: String =
    s"""WITH $dimDateOracleCte
       |SELECT * FROM dim_date ORDER BY date_id""".stripMargin

  def qDimTime(spark: SparkSession, sfDir: String): DataFrame =
    dimTime(spark).orderBy(col("time_id"))

  val qDimTimeSql: String =
    """WITH t AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2000-01-01 00:00:00',
      |    TIMESTAMP '2000-01-01 23:59:59', INTERVAL 1 SECOND)) AS ts
      |)
      |SELECT strftime(ts, '%H%M%S') AS time_id,
      |  strftime(ts, '%-H') AS hour,
      |  strftime(ts, '%-M') AS minute,
      |  strftime(ts, '%-S') AS second
      |FROM t ORDER BY time_id""".stripMargin

  /** All five static dims as one audited relation (S3 inside the oracle
    * gate). The 3-row peak band documents the B1 fix.
    */
  def qStaticDims(spark: SparkSession, sfDir: String): DataFrame = {
    def tag(name: String, df: DataFrame): DataFrame = {
      val Array(k, v) = df.columns
      df.select(lit(name).as("dim_name"), col(k).as("id"), col(v).as("description"))
    }
    tag("dim_vendors", dimVendors(spark))
      .unionAll(tag("dim_ratecode", dimRatecode(spark)))
      .unionAll(tag("dim_store_and_fwd_flag", dimStoreAndFwdFlag(spark)))
      .unionAll(tag("dim_payment_type", dimPaymentType(spark)))
      .unionAll(tag("dim_trip_peak_band", dimTripPeakBand(spark)))
      .orderBy(col("dim_name"), col("id"))
  }

  val qStaticDimsSql: String =
    """SELECT * FROM (VALUES
      |  ('dim_vendors','1','Creative Mobile Technologies, LLC'),
      |  ('dim_vendors','2','Curb Mobility, LLC'),
      |  ('dim_vendors','6','Myle Technologies Inc'),
      |  ('dim_vendors','7','Helix'),
      |  ('dim_ratecode','1','Standard rate'),
      |  ('dim_ratecode','2','JFK'),
      |  ('dim_ratecode','3','Newark'),
      |  ('dim_ratecode','4','Nassau or Westchester'),
      |  ('dim_ratecode','5','Negotiated fare'),
      |  ('dim_ratecode','6','Group ride'),
      |  ('dim_ratecode','99','Null/unknown'),
      |  ('dim_store_and_fwd_flag','1','store and forward trip'),
      |  ('dim_store_and_fwd_flag','0','not a store and forward trip'),
      |  ('dim_payment_type','0','Flex Fare trip'),
      |  ('dim_payment_type','1','Credit card'),
      |  ('dim_payment_type','2','Cash'),
      |  ('dim_payment_type','3','No charge'),
      |  ('dim_payment_type','4','Dispute'),
      |  ('dim_payment_type','5','Unknown'),
      |  ('dim_payment_type','6','Voided trip'),
      |  ('dim_trip_peak_band','101','Night Hour'),
      |  ('dim_trip_peak_band','102','Peak Hour'),
      |  ('dim_trip_peak_band','103','Off-Peak')
      |) AS t(dim_name, id, description)
      |ORDER BY dim_name, id""".stripMargin

  /** BI star join fact→dim_date (J2 against a GENERATED dim): trips and
    * revenue by weekday. dim_date is broadcast (constant 10 959 rows).
    * Note the FK formats agree: fact date keys are 'yyyyMMdd' (ny:282-285),
    * dim date_id is 'yMMdd' (ny:170) — identical strings for 4-digit years.
    */
  def qTripsByWeekday(spark: SparkSession, sfDir: String): DataFrame = {
    val fact = StarSchema.factTrips(spark, sfDir)
    val dd = dimDate(spark).select(col("date_id"), col("day_long"), col("is_weekend"))
    fact.join(broadcast(dd), fact("tpep_pickup_date_id") === dd("date_id"))
      .groupBy(col("day_long"), col("is_weekend"))
      .agg(
        count(lit(1)).as("n_trips"),
        sum(col("total_amount")).cast("double").as("revenue"))
      .orderBy(col("day_long"))
  }

  val qTripsByWeekdaySql: String =
    s"""WITH ${TaxiFixture.rawSql},
       |${Cleanse.cleanseSql},
       |${Derive.deriveSql},
       |$dimDateOracleCte
       |SELECT day_long, is_weekend, count(*) AS n_trips,
       |  CAST(sum(total_amount) AS DOUBLE) AS revenue
       |FROM banded JOIN dim_date ON banded.tpep_pickup_date_id = dim_date.date_id
       |GROUP BY day_long, is_weekend
       |ORDER BY day_long""".stripMargin

  /** BI star join fact→CSV zone dim (J2 against the FILE dim, with the B2
    * int-FK × string-PK coercion made explicit): trips and revenue by
    * pickup borough. Zone dim broadcast (265 rows).
    */
  def qTripsByBorough(spark: SparkSession, sfDir: String): DataFrame = {
    val fact = StarSchema.factTrips(spark, sfDir)
    val zones = dimTaxiZoneLookup(spark)
      .select(col("LocationID").cast("int").as("location_id"), col("Borough").as("borough"))
    fact.join(broadcast(zones), fact("pickup_location_id") === zones("location_id"))
      .groupBy(col("borough"))
      .agg(
        count(lit(1)).as("n_trips"),
        sum(col("total_amount")).cast("double").as("revenue"))
      .orderBy(col("borough"))
  }

  val qTripsByBoroughSql: String =
    s"""WITH ${TaxiFixture.rawSql},
       |${Cleanse.cleanseSql},
       |${Derive.deriveSql},
       |zones AS (
       |  SELECT CAST(LocationID AS INTEGER) AS location_id, Borough AS borough
       |  FROM read_csv('${zoneCsvPath}', header=true)
       |)
       |SELECT borough, count(*) AS n_trips,
       |  CAST(sum(total_amount) AS DOUBLE) AS revenue
       |FROM banded JOIN zones ON banded.pickup_location_id = zones.location_id
       |GROUP BY borough
       |ORDER BY borough""".stripMargin

  /** The FULL-SQL entry surface (§2.8): fact + dims registered as temp
    * views (K4) and the star query written entirely in `spark.sql` — the
    * way the reference's own consumers (Athena/Looker over the Glue
    * catalog) actually query the schema. Joins carry the B2 int-FK ×
    * string-PK coercion explicitly. Only vendors 1 and 2 exist in the
    * fixture's VendorID range ∩ the dim (3..4 have no dim row), so the
    * inner join is also a real referential filter.
    */
  def qSqlVendorBandRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    StarSchema.factTrips(spark, sfDir).createOrReplaceTempView("graft_fact_trips")
    dimVendors(spark).createOrReplaceTempView("graft_dim_vendors")
    dimTripPeakBand(spark).createOrReplaceTempView("graft_dim_peak_band")
    spark.sql(
      """SELECT v.vendor_name, p.trip_peak_band_description AS band,
        |  count(*) AS n_trips,
        |  CAST(sum(f.total_amount) AS DOUBLE) AS revenue
        |FROM graft_fact_trips f
        |JOIN graft_dim_vendors v ON CAST(f.vendor_id AS STRING) = v.vendor_id
        |JOIN graft_dim_peak_band p ON f.trip_peak_band_id = p.trip_peak_band_id
        |GROUP BY v.vendor_name, p.trip_peak_band_description
        |ORDER BY vendor_name, band""".stripMargin)
  }

  val qSqlVendorBandRevenueSql: String =
    s"""WITH ${TaxiFixture.rawSql},
       |${Cleanse.cleanseSql},
       |${Derive.deriveSql},
       |v AS (
       |  SELECT * FROM (VALUES
       |    ('1', 'Creative Mobile Technologies, LLC'),
       |    ('2', 'Curb Mobility, LLC'),
       |    ('6', 'Myle Technologies Inc'),
       |    ('7', 'Helix')) AS t(vendor_id, vendor_name)
       |),
       |p AS (
       |  SELECT * FROM (VALUES
       |    ('101', 'Night Hour'), ('102', 'Peak Hour'), ('103', 'Off-Peak')
       |  ) AS t(trip_peak_band_id, trip_peak_band_description)
       |)
       |SELECT v.vendor_name, p.trip_peak_band_description AS band,
       |  count(*) AS n_trips,
       |  CAST(sum(f.total_amount) AS DOUBLE) AS revenue
       |FROM banded f
       |JOIN v ON CAST(f.vendor_id AS VARCHAR) = v.vendor_id
       |JOIN p ON f.trip_peak_band_id = p.trip_peak_band_id
       |GROUP BY v.vendor_name, p.trip_peak_band_description
       |ORDER BY vendor_name, band""".stripMargin

  val registry: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q_dim_date" -> ((qDimDate _, qDimDateSql)),
    "q_dim_time" -> ((qDimTime _, qDimTimeSql)),
    "q_static_dims" -> ((qStaticDims _, qStaticDimsSql)),
    "q_trips_by_weekday" -> ((qTripsByWeekday _, qTripsByWeekdaySql)),
    "q_trips_by_borough" -> ((qTripsByBorough _, qTripsByBoroughSql)),
    "q_sql_vendor_band_revenue" -> ((qSqlVendorBandRevenue _, qSqlVendorBandRevenueSql))
  )
}
