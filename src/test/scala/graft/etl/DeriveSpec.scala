package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** [[Derive]] reads the date/time keys, `Hour` and the duration from the
  * fixed-width strings [[Cleanse]] formats. The oracle is the reference's
  * own expressions (ny:281-319): `date_format` over the strings and two
  * `unix_timestamp` parses.
  */
class DeriveSpec extends SparkSuite {

  /** Raw months built from these (pickup, dropoff) timestamps; every other
    * column passes the quality filters.
    */
  private val edges: Seq[(String, String)] = Seq(
    ("NULL", "TIMESTAMP '2024-03-10 10:00:00'"),
    ("TIMESTAMP '2024-03-10 11:00:00'", "NULL"),
    ("TIMESTAMP '2024-03-10 12:34:56.999'", "TIMESTAMP '2024-03-10 12:35:56.001'"),
    ("TIMESTAMP '2024-03-10 13:00:00.5'", "TIMESTAMP '2024-03-10 13:00:59.999999'"),
    ("TIMESTAMP '0001-01-01 00:00:00'", "TIMESTAMP '0001-01-01 00:42:17'"),
    ("TIMESTAMP '9999-12-31 23:00:01'", "TIMESTAMP '9999-12-31 23:59:59'"),
    ("TIMESTAMP '2024-02-29 23:59:59'", "TIMESTAMP '2024-03-01 00:10:00'"),
    ("TIMESTAMP '2024-03-31 23:45:00'", "TIMESTAMP '2024-04-01 00:00:00'"),
    ("TIMESTAMP '2024-04-01 00:00:00'", "TIMESTAMP '2024-04-01 00:00:00'"),
    ("TIMESTAMP '2024-04-01 10:00:30'", "TIMESTAMP '2024-04-01 10:00:00'"),
    ("TIMESTAMP '2024-04-01 00:00:00'", "TIMESTAMP '2024-04-02 00:00:00'"))

  private def raw: DataFrame = {
    val rows = edges.map { case (pu, doff) => s"($pu, $doff)" }.mkString(",\n")
    spark.sql(
      s"""SELECT 1L AS VendorID, pu AS tpep_pickup_datetime, doff AS tpep_dropoff_datetime,
         |  2.0D AS passenger_count, 10.0D AS trip_distance, 1.0D AS RatecodeID,
         |  'N' AS store_and_fwd_flag, 10L AS PULocationID, 20L AS DOLocationID,
         |  1L AS payment_type, 20.0D AS fare_amount, 0.0D AS extra, 0.5D AS mta_tax,
         |  0.0D AS tip_amount, 0.0D AS tolls_amount, 0.3D AS improvement_surcharge,
         |  CAST(NULL AS DOUBLE) AS congestion_surcharge, CAST(NULL AS DOUBLE) AS airport_fee,
         |  20.8D AS total_amount
         |FROM VALUES $rows AS t(pu, doff)""".stripMargin)
  }

  private val pu = col("tpep_pickup_datetime")
  private val doff = col("tpep_dropoff_datetime")

  private def assertSameRows(got: DataFrame, want: DataFrame, n: Long): Unit = {
    assert(want.count() === n)
    assert(got.count() === n)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"got:\n${got.collect().mkString("\n")}\nwant:\n${want.collect().mkString("\n")}")
  }

  test("date/time keys, Hour and duration equal the reference's date_format/unix_timestamp") {
    val in = Cleanse(raw)
    assert(in.count() === edges.size)

    assertSameRows(
      Derive.dateTimeKeys(in).select(pu, doff,
        col("tpep_pickup_date_id"), col("tpep_pickup_time_id"),
        col("tpep_dropoff_date_id"), col("tpep_dropoff_time_id")),
      in.select(pu, doff,
        date_format(pu, "yyyyMMdd"), date_format(pu, "HHmmss"),
        date_format(doff, "yyyyMMdd"), date_format(doff, "HHmmss")),
      edges.size)

    // the inner band join drops the null pickup in both
    assertSameRows(
      Derive.peakBand(in).select(pu, col("Hour")),
      in.select(pu, date_format(pu, "HH").as("Hour")).where(col("Hour").isNotNull),
      edges.size - 1)

    // nulls and the 1440-minute trip fall to the cutoff in both
    val oracleMinutes = floor((unix_timestamp(doff) - unix_timestamp(pu)) / 60)
    assertSameRows(
      Derive.duration(in).select(pu, doff, col("trip_duration_minutes")),
      in.select(pu, doff, oracleMinutes.as("trip_duration_minutes"))
        .where(col("trip_duration_minutes") < 1440),
      edges.size - 3)
    val minutes = Derive.duration(in).select("trip_duration_minutes")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(minutes === Seq(-1L, 0L, 0L, 1L, 10L, 15L, 42L, 59L))

    // the null-intolerant keys let Catalyst infer IsNotNull filters on the
    // raw timestamps; they must not reach below the intake observation
    val (fact, intake, _) = StarSchema.transformObserved(raw, "2024", "3")
    assert(fact.count() === minutes.size)
    assert(intake.get("n_rows") === edges.size)
  }

  test("observed pipeline over a single-partition raw month fills every intake counter") {
    val dir = Files.createTempDirectory("graft_derive_raw").resolve("raw").toString
    TaxiFixture.raw(spark, sf).coalesce(1).write.parquet(dir)
    val raw = spark.read.parquet(dir)
    assert(raw.rdd.getNumPartitions === 1)
    val (fact, intake, output) = StarSchema.transformObserved(raw, "2024", "1")
    val shipped = fact.count()
    val in = intake.get
    assert(in.keySet === Set("n_rows", "n_nonpositive_fare", "n_bad_passenger", "n_bad_distance"))
    assert(in("n_rows") === raw.count())
    assert(in("n_nonpositive_fare") === raw.filter(col("fare_amount") <= 0).count())
    assert(in("n_bad_passenger") ===
      raw.filter(col("passenger_count") < 1 || col("passenger_count") > 6).count())
    assert(in("n_bad_distance") ===
      raw.filter(col("trip_distance") < 5.0 || col("trip_distance") > 500.0).count())
    assert(output.get("n_rows") === shipped)
    assert(shipped > 0)
  }
}
