package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.model.Tables

/** ORC interchange: the round-trip preserves schema, row identity, and
  * values — the in-Spark half of the fidelity proof whose cross-engine
  * half is the driver's parquet-direct oracle for
  * `q_event_orc_roundtrip`.
  */
class InterchangeSpec extends SparkSuite {

  test("ORC round-trip preserves schema, rows, and the aggregate contract") {
    val src = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    val dir = Files.createTempDirectory("graft-orc-spec").toFile.getAbsolutePath
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    // row-identical, not just count-identical: symmetric difference empty
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // the registry query equals the same aggregation computed WITHOUT the
    // ORC hop — what the DuckDB oracle asserts cross-engine
    val viaOrc = Interchange.qEventOrcRoundtrip(spark, sf).collect().map(_.toString)
    val direct = src
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
        (sum(col("event_id").cast("decimal(38,0)")) % lit(graft.Exact.checksumP))
          .cast("long").as("id_checksum"),
        min(unix_micros(col("ts"))).as("ts_lo"),
        max(unix_micros(col("ts"))).as("ts_hi"))
      .orderBy(col("event_type")).collect().map(_.toString)
    assert(viaOrc.toSeq === direct.toSeq)
  }
}
