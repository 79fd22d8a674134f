package graft

import java.security.MessageDigest
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.functions.{col, expr, floor, sum, to_date}

/** The exactness rules: each kernel gives the answer its reference
  * computes in plain Scala, whatever the partitioning.
  */
class ExactSpec extends SparkSuite {

  test("orderedSum: the same double bits over 1 and 8 shuffled partitions, unlike sum") {
    import spark.implicits._
    // mixed magnitudes: every regrouping of the additions rounds differently
    val rows = (0 until 2000).map { k =>
      (k.toLong, (if (k % 2 == 0) 1e12 else -1e12 + 0.5) + k * 0.1 + 1.0 / (k + 3))
    }
    val expected = rows.sortBy(_._1).foldLeft(0.0)(_ + _._2)
    val one = rows.toDF("k", "v").coalesce(1)
    val eight = rows.reverse.toDF("k", "v").repartition(8, col("k") % 8)
    def bits(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column): Long =
      java.lang.Double.doubleToRawLongBits(df.agg(c).head().getDouble(0))
    val ordered = Exact.orderedSum("k", "v")
    assert(bits(one, ordered) === java.lang.Double.doubleToRawLongBits(expected))
    assert(bits(eight, ordered) === bits(one, ordered))
    assert(bits(eight, sum(col("v"))) !== bits(one, sum(col("v"))),
      "a plain sum of these inputs depends on the partitioning")
  }

  test("revenue and charge over 2-dp inputs equal the BigDecimal reference") {
    import spark.implicits._
    val rows = Seq((12345.67, 0.05, 0.08), (999999.99, 0.1, 0.0), (0.01, 0.0, 0.07),
      (4321.09, 0.04, 0.02), (104949.5, 0.09, 0.06))
    val got = rows.toDF("p", "d", "t")
      .select(Exact.revenue(col("p"), col("d")), Exact.charge(col("p"), col("d"), col("t")))
      .collect().map(r => (r.getDecimal(0), r.getDecimal(1)))
    val one = BigDecimal(1)
    val want = rows.map { case (p, d, t) =>
      val (bp, bd, bt) = (BigDecimal(p.toString), BigDecimal(d.toString), BigDecimal(t.toString))
      (bp * (one - bd), bp * (one - bd) * (one + bt))
    }
    got.zip(want).foreach { case ((r, c), (wr, wc)) =>
      assert(BigDecimal(r) === wr)
      assert(BigDecimal(c) === wc)
    }
  }

  test("units truncates negative values toward zero, unlike floor") {
    import spark.implicits._
    val r = Seq(-1.23456, 1.239, -0.004).toDF("x")
      .select(Exact.units(col("x"), 100), floor(Exact.dec(col("x")) * 100).cast("long"),
        Exact.units(col("x"), 10000))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(r.toSeq === Seq((-123L, -124L, -12346L), (123L, 123L, 12390L), (0L, -1L, -40L)))
  }

  test("portableHash is the 60-bit md5 prefix, and h31 its reduction mod HashP") {
    import spark.implicits._
    val keys = Seq("", "a", "graft", "hello world", "doc 42|split")
    def md5Prefix(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val got = keys.toDF("s")
      .select(col("s"), Exact.portableHash(col("s")), Exact.h31(col("s")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    keys.foreach { k =>
      assert(got(k) === ((md5Prefix(k), md5Prefix(k) % Exact.HashP)), k)
    }
    val viaExpr = keys.toDF("s")
      .selectExpr(s"${Exact.portableHashExprSql("s")}").as[Long].collect().toSeq
    assert(viaExpr === keys.map(md5Prefix))
    assert(Exact.portableHashSql("t") === "CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)")
  }

  test("epochDay and its SQL twin give LocalDate.toEpochDay from year 1 to 9999, and epochDate inverts them") {
    import spark.implicits._
    val stamps = Seq("0001-01-01T00:00:00Z", "1969-12-31T23:59:59.999999Z",
      "1970-01-01T00:00:00Z", "2024-02-29T12:34:56.5Z", "9999-12-31T23:59:59.999999Z")
      .map(Instant.parse)
    val want = stamps.map(_.atOffset(ZoneOffset.UTC).toLocalDate.toEpochDay)
    val micros = stamps.map(i => i.getEpochSecond * 1000000L + i.getNano / 1000)
    val days = micros.toDF("us")
      .select(expr("timestamp_micros(us)").as("ts"))
      .select(Exact.epochDay(to_date(col("ts"))).as("dn"),
        expr(Exact.epochDaySql("CAST(ts AS DATE)")).as("dn_sql"))
    assert(days.as[(Long, Long)].collect().toSeq === want.zip(want))
    // the inverse pair: DATE of each day, back to the same day and the ISO date
    val back = days
      .select(expr(Exact.epochDateExprSql("dn")).as("d"), expr(Exact.epochDateSql("dn")).as("d_sql"))
      .select(Exact.epochDay(col("d")), Exact.epochDay(col("d_sql")),
        col("d").cast("string"), col("d_sql").cast("string"))
      .as[(Long, Long, String, String)].collect().toSeq
    assert(back === want.map { dn =>
      val iso = LocalDate.ofEpochDay(dn).toString
      (dn, dn, iso, iso)
    })
  }

  test("decSql and unitsSql, parsed by Spark, equal dec and units on the same rows") {
    import spark.implicits._
    val df = Seq(-1.23456, 1.239, -0.004, 0.0, 12345.67, 999999.99).toDF("x")
    val got = df.select(Exact.dec(col("x")), expr(Exact.decSql("x")),
        Exact.units(col("x"), 100), expr(Exact.unitsSql("x", 100)),
        Exact.units(col("x"), 10000), expr(Exact.unitsSql("x", 10000)))
      .collect()
    assert(got.length === 6)
    got.foreach { r =>
      assert(r.getDecimal(0) === r.getDecimal(1))
      assert(r.getLong(2) === r.getLong(3))
      assert(r.getLong(4) === r.getLong(5))
    }
    assert(got.map(_.getLong(2)).toSeq === Seq(-123L, 123L, 0L, 0L, 1234567L, 99999999L))
  }
}
