package graft.etl

import java.util.Properties

import graft.SparkSuite

/** Job-2 publish flow against embedded Derby (SURVEY §3 E3): idempotent
  * dim publish (probe → create-if-absent) and the partition-pruned fact
  * append — with the Spark jobs each call
  * starts: none for probing an existing dim, one for a fact month.
  */
class PublishSpec extends SparkSuite {

  private val url = "jdbc:derby:memory:graftpub;create=true"
  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** Derby-side existence probe (reference: pg_catalog.pg_tables, pg:64).
    * Spark's writer creates unquoted names, which Derby folds upper-case.
    */
  private def probeSql(table: String): String =
    s"(SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME = '${table.toUpperCase}') p"

  test("dim publish is idempotent: first run writes, second skips (pg:60-74)") {
    assert(Publish.publishDimIfAbsent(spark, "dim_ratecode",
      Dims.dimRatecode(spark), url, props, probeSql))
    val (wrote, jobs) = withJobCount(Publish.publishDimIfAbsent(spark, "dim_ratecode",
      Dims.dimRatecode(spark), url, props, probeSql))
    assert(!wrote)
    assert(jobs === 0, "probing an existing dim runs on the driver")
    assert(spark.read.jdbc(url, "dim_ratecode", props).count() === 7)
  }

  test("fact month publish: catalog read, partition filter, JDBC append (pg:77-89)") {
    val table = "graft_fact_pub_test"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val fact = StarSchema.factTrips(spark, sf)
    StarSchema.writeFact(fact, table)

    val (n1, jobs1) = withJobCount(
      Publish.publishFactMonth(spark, table, "2024", "1", url, "fact_uber_trips", props))
    assert(n1 === fact.count())
    assert(n1 > 0)
    assert(jobs1 === 1, "the append counts itself: one job")
    assert(spark.read.jdbc(url, "fact_uber_trips", props).count() === n1)
    // a month not in the catalog publishes zero rows
    val (n0, jobs0) = withJobCount(
      Publish.publishFactMonth(spark, table, "2024", "12", url, "fact_uber_trips", props))
    assert(n0 === 0)
    assert(jobs0 === 1)
    assert(spark.read.jdbc(url, "fact_uber_trips", props).count() === n1)

    spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
