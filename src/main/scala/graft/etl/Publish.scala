package graft.etl

import java.util.Properties

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** Job-2 analog (SURVEY §3 E3, pg:22-92): publish the star schema from the
  * session catalog to an external JDBC warehouse.
  *
  *   - Per dim (pg:60-74): probe the target for the table (S7 — the probe
  *     SELECT executes INSIDE the target database via the
  *     subquery-as-table idiom), create it only if absent (K2). Like the
  *     reference, the probe runs in driver code over one JDBC connection,
  *     so an existing dim costs no Spark job.
  *   - Fact (pg:77-89): read back from the catalog (S6), filter to ONE
  *     (year, month) partition (F5 — a partition-column filter, so the
  *     scan prunes to a single directory: the month-granular access
  *     pattern that keeps a 100 TB fact publishable), append (K3). The
  *     row count comes from an `Observation` on the appended frame, so
  *     the publish is one job over one pruned scan.
  *
  * The probe SQL is pluggable because system-catalog names differ per
  * target (`pg_catalog.pg_tables` on Postgres, `SYS.SYSTABLES` on the
  * Derby used in tests); credentials/config arrive via `Properties`, the
  * local stand-in for the reference's Secrets Manager lookup (pg:22-36 —
  * intentionally not emulated, SURVEY §7.4).
  *
  * Scale notes: dims are constant-size (single-digit MB) — their publish
  * is negligible; the fact append is one pruned partition streamed over
  * parallel JDBC connections (one per Spark partition) — `numPartitions`
  * in `props` caps target-side connection fan-in.
  */
object Publish {

  /** Dim tables of the schema, publish order per pg:44-59. */
  val dimTables: Seq[String] = Seq(
    "dim_vendors", "dim_ratecode", "dim_store_and_fwd_flag",
    "dim_payment_type", "dim_trip_peak_band", "dim_date", "dim_time",
    "dim_taxi_zone_lookup")

  /** Catalog database guard (ny:37-57 `check_db_exists` /
    * `create_db_if_not_exists`): probe the session catalog for `db`,
    * create it only if absent. Returns true iff it created — the same
    * probe-then-create contract as [[publishDimIfAbsent]], at database
    * granularity. The reference does this against the Glue Data Catalog;
    * `spark.catalog` is the session-catalog equivalent (Glue IS a Spark
    * catalog implementation on EMR/Glue, so the call is the same there).
    */
  def ensureDatabase(spark: SparkSession, db: String): Boolean = {
    val exists = spark.catalog.databaseExists(db)
    if (!exists) spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    !exists
  }

  /** Ensure the database of a possibly qualified table name exists, so
    * catalog sinks ([[StarSchema.writeFact]], [[Bucketing.writeBucketed]])
    * can target `db.table` (or `catalog.db.table`) without a manual
    * CREATE DATABASE step. The database is the second-to-last name part,
    * resolved with the session's SQL parser so backtick quoting is honored
    * — a naive split('.') would carve a quoted identifier like
    * {{{`my.db`.tbl}}} at the wrong dot and guard a spurious database.
    * Unqualified names target the current database — nothing to guard.
    */
  def ensureDatabaseOf(spark: SparkSession, table: String): Unit = {
    val parts = org.apache.spark.sql.graft.Bridge.parseMultipartIdentifier(spark, table)
    if (parts.length >= 2) {
      val db = parts(parts.length - 2)
      if (db.nonEmpty) ensureDatabase(spark, db)
    }
  }

  /** S7 existence probe: returns true iff `table` exists target-side.
    * `probeSql(table)` must be a subquery returning ≥1 row iff present;
    * it runs inside the target as `SELECT 1 FROM <probeSql(table)>` over
    * one driver-side connection (no Spark job).
    */
  def tableExists(spark: SparkSession, url: String, props: Properties,
      probeSql: String => String): String => Boolean = table => {
    val conn = connect(url, props)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT 1 FROM ${probeSql(table)}")
      try rs.next() finally rs.close()
    } finally conn.close()
  }

  /** One JDBC connection opened as Spark's JDBC source opens its own: the
    * `driver` class named in `props` (if any) connects with `props` passed
    * through; without one, `DriverManager` picks the driver for `url`.
    */
  private def connect(url: String, props: Properties): java.sql.Connection =
    Option(props.getProperty("driver")) match {
      case Some(cls) =>
        val driver = Class.forName(cls, true, Thread.currentThread.getContextClassLoader)
          .getDeclaredConstructor().newInstance().asInstanceOf[java.sql.Driver]
        Option(driver.connect(url, props)).getOrElse(
          throw new java.sql.SQLException(s"JDBC driver $cls does not accept $url"))
      case None => java.sql.DriverManager.getConnection(url, props)
    }

  /** Publish one dim if absent (pg:60-74): probe → create. Returns true if
    * it wrote.
    */
  def publishDimIfAbsent(spark: SparkSession, name: String, dim: => DataFrame,
      url: String, props: Properties, probeSql: String => String): Boolean = {
    val exists = tableExists(spark, url, props, probeSql)(name)
    if (!exists) dim.write.jdbc(url, name, props) // K2
    !exists
  }

  /** Publish one (year, month) fact partition (pg:77-89): catalog read →
    * partition-pruned filter → JDBC append. Returns the rows the append
    * consumed, counted in flight by an `Observation` on the same job, so
    * the number is exactly what was appended even if the catalog
    * partition gains rows concurrently. An absent month appends 0 rows.
    */
  def publishFactMonth(spark: SparkSession, catalogTable: String,
      year: String, month: String, url: String, targetTable: String,
      props: Properties): Long = {
    val appended = Observation()
    spark.table(catalogTable) // S6
      .filter(col("processed_year") === year && col("processed_month") === month) // F5
      .observe(appended, count(lit(1)).as("n_rows"))
      .write.mode(SaveMode.Append).jdbc(url, targetTable, props) // K3
    appended.get("n_rows").asInstanceOf[Long]
  }
}
