package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.EtlQueries
import graft.queries.Analytics

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each module contributes an ORDERED registry of name → (query, oracle
  * SQL); this object is only the aggregation point the driver harness
  * reads. Order matters: Bench times entries in iteration order and the
  * first entry absorbs JVM/Spark warmup, so registries lead with a cheap
  * query (see Analytics.registry scaladoc).
  */
object SparkEntry {

  private def registries: Seq[Seq[(String, ((SparkSession, String) => DataFrame, String))]] = Seq(
    Analytics.registry,
    graft.queries.TpchTail.registry,
    graft.queries.Joins.registry,
    graft.queries.Warehouse.registry,
    EtlQueries.registry,
    graft.etl.Quality.registry,
    graft.etl.Layout.registry,
    graft.ext.Graph.registry,
    graft.ext.LlmQueries.registry,
    graft.ext.Sketches.registry,
    graft.sources.Interchange.registry,
    graft.sources.SeqSource.registry,
    graft.sources.StoreSource.registry,
    graft.etl.Dims.registry
  )

  private lazy val all: ListMap[String, ((SparkSession, String) => DataFrame, String)] = {
    val flat = registries.flatten
    // a duplicate name would silently collapse in the Map — one module's
    // implementation shadowing another's with no red anywhere (a round-11
    // near-miss: a re-added q_doc_dsir_weights shadowed the round-7 one)
    val dups = flat.groupBy(_._1).filter(_._2.length > 1).keys
    require(dups.isEmpty, s"duplicate registry names: ${dups.mkString(", ")}")
    ListMap(flat: _*)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own flagship is the Job-1 ETL pipeline (SURVEY §3 E1),
    * so the smoke runs its full cleanse→derive→star path via the band
    * roll-up (3 rows).
    */
  def entry(spark: SparkSession): DataFrame =
    graft.etl.StarSchema.bandSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, (fn, _)) => k -> fn }

  /** Runs `body` over the `select`ed entries in registry order and returns
    * each entry's result, or the exception it threw; one failing entry
    * does not stop the rest.
    *
    * Persist contract: several entries (minhash signatures, LSH corpus,
    * IVF/k-means centroids, curation shingles) `persist()` an intermediate
    * that the lazy fn-returning contract cannot unpersist. The runner
    * clears the cache after every entry, outside whatever `body` times, so
    * no entry inherits another's cache.
    */
  def runEach[A](spark: SparkSession, select: String => Boolean)(
      body: (String, (SparkSession, String) => DataFrame) => A): Seq[(String, Either[Throwable, A])] =
    all.toSeq.filter { case (name, _) => select(name) }.map { case (name, (fn, _)) =>
      val res = try Right(body(name, fn)) catch { case e: Throwable => Left(e) }
      spark.catalog.clearCache()
      name -> res
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (k, (_, sql)) if sql.nonEmpty => k -> sql }
}
