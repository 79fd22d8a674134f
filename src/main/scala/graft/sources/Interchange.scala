package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Exact.{checksum, checksumSql, dec, decSql}
import graft.model.Tables

/** Columnar interchange beyond parquet: ORC, the other columnar format
  * Spark ships a native vectorized reader/writer for (warehouse
  * migrations and Hive-lineage lakes are full of it). The library's
  * contract is that a table round-tripped through ORC is byte-identical
  * — proven the [[graft.ext.CorpusOps.qDocJsonlRoundtrip]] way: the
  * QUERY writes ORC and aggregates the read-back, while the ORACLE
  * computes the same aggregates directly over the original parquet;
  * hash equality of the two outputs is the fidelity proof (DuckDB never
  * needs to read ORC itself).
  *
  * Scale: the write is one pass (narrow projection → columnar encode,
  * parallel per partition); the read-back aggregation is one
  * partially-aggregated shuffle on event_type. ORC's min/max stripe
  * stats serve the same scan-pruning role as parquet footers, so a
  * 100 TB table keeps its pruning behavior across the format switch.
  */
object Interchange {

  /** Events → ORC → read back → per-type counts, exact decimal value
    * mass, id checksum mod 2⁶¹−1, and the covered time span in epoch
    * micros. Any encode/decode infidelity (type narrowing, timestamp
    * unit drift, row loss) breaks hash equality with the parquet-direct
    * oracle.
    */
  def qEventOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Files.createTempDirectory("graft-orc").toFile.getAbsolutePath
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"),
        checksum(col("event_id")).as("id_checksum"),
        min(unix_micros(col("ts"))).as("ts_lo"),
        max(unix_micros(col("ts"))).as("ts_hi"))
      .orderBy(col("event_type"))
  }

  val qEventOrcRoundtripSql: String =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(sum(${decSql("value")}) AS DOUBLE) AS sum_value,
       |  ${checksumSql("event_id")} AS id_checksum,
       |  min(epoch_us(ts)) AS ts_lo, max(epoch_us(ts)) AS ts_hi
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val registry: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q_event_orc_roundtrip" -> ((qEventOrcRoundtrip _, qEventOrcRoundtripSql))
  )
}
