package graft.etl

import java.nio.file.{Files, Paths}
import java.util.jar.{JarEntry, JarOutputStream}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

import graft.SparkSuite

/** Dimension semantics (SURVEY §1.1/§5.2): generated dim cardinalities and
  * field derivations (incl. leap day and weekend flag), B1's 3-row fix,
  * and the CSV dim's schema-on-read shape.
  */
class DimsSpec extends SparkSuite {

  test("dim_date: 10959 days, leap day present, fields match (ny:163-185)") {
    val dd = Dims.dimDate(spark)
    assert(dd.count() === 10959)
    val leap = dd.filter(col("date_id") === "20240229").collect()
    assert(leap.length === 1)
    val r = leap.head
    assert(r.getAs[String]("date") === "29")
    assert(r.getAs[String]("month") === "2")
    assert(r.getAs[String]("year") === "2024")
    assert(r.getAs[String]("day_short") === "Thu")
    assert(r.getAs[String]("day_long") === "Thursday")
    assert(r.getAs[String]("month_short") === "Feb")
    assert(r.getAs[String]("month_long") === "February")
    assert(r.getAs[String]("is_weekend") === "No")
    // a known Saturday is a weekend
    val sat = dd.filter(col("date_id") === "20240302").head()
    assert(sat.getAs[String]("day_short") === "Sat" && sat.getAs[String]("is_weekend") === "Yes")
    // no leap day on century non-leap rules inside range: 2100 is out of range,
    // but 2000-02-29 (divisible by 400) must exist
    assert(dd.filter(col("date_id") === "20000229").count() === 1)
  }

  test("dim_time: one row per second of day, no-pad H/m/s (ny:201-218)") {
    val dt = Dims.dimTime(spark)
    assert(dt.count() === 86400)
    val r = dt.filter(col("time_id") === "050403").head()
    assert(r.getAs[String]("hour") === "5")
    assert(r.getAs[String]("minute") === "4")
    assert(r.getAs[String]("second") === "3")
    assert(dt.filter(col("time_id") === "235959").count() === 1)
  }

  test("static dims: reference cardinalities; peak band has the intended 3 rows (B1)") {
    assert(Dims.dimVendors(spark).count() === 4)
    assert(Dims.dimRatecode(spark).count() === 7)
    assert(Dims.dimStoreAndFwdFlag(spark).count() === 2)
    assert(Dims.dimPaymentType(spark).count() === 7)
    val band = Dims.dimTripPeakBand(spark).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(band === Map("101" -> "Night Hour", "102" -> "Peak Hour", "103" -> "Off-Peak"))
  }

  test("zone lookup CSV: header-inferred all-string schema, 265 zones (ny:220-228)") {
    val z = Dims.dimTaxiZoneLookup(spark)
    assert(z.count() === 265)
    assert(z.columns.toSeq === Seq("LocationID", "Borough", "Zone", "service_zone"))
    assert(z.schema.fields.forall(_.dataType === StringType))
  }

  test("zone lookup CSV: outside the repo root the classpath copy is used; a jar copy is extracted") {
    val repoCopy = Files.readAllBytes(Paths.get("data/taxi_zone_lookup.csv"))
    val elsewhere = Files.createTempDirectory("graft_zone_cwd").toFile
    val resolved = Dims.resolveZoneCsv(None, elsewhere)
    assert(!resolved.startsWith(elsewhere.getAbsolutePath))
    assert(Files.readAllBytes(Paths.get(resolved)) === repoCopy)
    assert(Dims.dimTaxiZoneLookup(spark, resolved).count() === 265)
    assert(Dims.resolveZoneCsv(Some("/x/zones.csv"), elsewhere) === "/x/zones.csv")

    val jar = elsewhere.toPath.resolve("zones.jar")
    val out = new JarOutputStream(Files.newOutputStream(jar))
    try {
      out.putNextEntry(new JarEntry("taxi_zone_lookup.csv"))
      out.write(repoCopy)
    } finally out.close()
    val extracted = Dims.zoneCsvFile(
      java.net.URI.create(s"jar:${jar.toUri}!/taxi_zone_lookup.csv").toURL)
    assert(Files.readAllBytes(Paths.get(extracted)) === repoCopy)
  }

  test("zone lookup CSV: a missing path names the path and the override") {
    val missing = "target/no-such-dir/taxi_zone_lookup.csv"
    val e = intercept[java.io.FileNotFoundException](Dims.dimTaxiZoneLookup(spark, missing))
    assert(e.getMessage.contains(missing))
    assert(e.getMessage.contains("GRAFT_ZONE_CSV"))
    assert(!e.getMessage.contains("graft.zone.csv"), "the system property is gone")
  }
}
