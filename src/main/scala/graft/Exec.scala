package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** How the engine runs locally, decided once: the core count, the session
  * config, the scale-adaptive spread rule and the eager-cache rule. Every
  * main and the test session build through here.
  */
object Exec {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the host's core count. */
  lazy val cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one local session config. `nanosAsLong` tolerates either
    * events.ts footer era (Tables.events branches on the loaded type);
    * the warehouse sits under target/ so saveAsTable stays out of the
    * working tree.
    */
  def session(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Hash-partition `df` on `key` to default parallelism only when its plan
    * runs on fewer partitions. Row-bound work on a small scan otherwise
    * inherits the few splits a byte-sized layout yields; where the scan
    * already fans wider than the cores this is a no-op, so no exchange is
    * paid where it would not help. `key` should be the key the next join
    * or aggregate clusters on.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par, key) else df
  }

  /** Cache `df` now: `persist()` at the default storage level, then fill
    * it with one write to the `noop` sink, and return `df` itself. The
    * write is one Spark job over the cached scan; a `count()` would add
    * its partial-aggregate and result stages as two more jobs under AQE.
    * The materialization rule, in one place:
    *
    *   - `share` a frame that several branches of ONE later job read
    *     (both sides of a self-join, sibling broadcast builds, concurrent
    *     arms). Left unfilled, those branches schedule together and each
    *     re-runs the frame's lineage instead of reading the cache.
    *   - `persist()` lazily when the consumers are sequential actions:
    *     the first one fills the cache inside its own job, so an eager
    *     fill would only add a job.
    *   - `localCheckpoint(true)` when reuse would re-expand a large
    *     subtree in every later plan string (composed stream stages) or a
    *     loop must cut its lineage each round; those blocks free through
    *     the ContextCleaner, not `unpersist`.
    *
    * Who releases the cache: a fill that throws releases it here;
    * registry entries leave the rest to [[SparkEntry.runEach]], which
    * clears it after every entry; long-lived callers (the streaming
    * appenders) `unpersist()` in a `finally`.
    */
  def share(df: DataFrame): DataFrame = {
    df.persist()
    try df.write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => df.unpersist(); throw e }
    df
  }

  /** Run independent eager arms (chains of Spark jobs) concurrently and
    * return their results in submission order. Spark schedules concurrent
    * jobs FIFO with back-fill, so one arm's barrier tail overlaps the next
    * arm's tasks. An arm's exception is rethrown to the caller.
    */
  def concurrently[A](arms: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    arms.map(arm => Future(arm())).map(Await.result(_, Duration.Inf))
  }
}
