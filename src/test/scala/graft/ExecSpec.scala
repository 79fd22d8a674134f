package graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions.{col, countDistinct, spark_partition_id, udf}
import org.apache.spark.storage.StorageLevel

/** The local-execution module: the session factory's config, the
  * scale-adaptive spread rule, the eager-cache rule, the concurrent-arms
  * helper, and the registry runner's cache contract.
  */
class ExecSpec extends SparkSuite {

  test("share: one job fills the cache of the same frame, and a later action reads it") {
    spark.catalog.clearCache()
    // every evaluation of the frame's projection ticks the accumulator
    val evals = spark.sparkContext.longAccumulator("share-evals")
    val tick = udf((x: Long) => { evals.add(1L); x % 7 })
    def frame = spark.range(0L, 1000L, 1L, 4).select(tick(col("id")).as("k"))
    // the hand-written pair share replaces, for reference
    val pair = frame
    val (_, pairJobs) = withJobCount { pair.persist(); pair.count() }
    pair.unpersist(blocking = true)
    evals.reset()

    val df = frame
    val (shared, jobs) = withJobs(Exec.share(df))
    assert(shared eq df)
    val roots = jobs.map(_.getProperty("spark.sql.execution.root.id")).distinct
    assert(roots.size === 1 && roots.head != null, s"one SQL execution, got $roots")
    // the fill is one job; under AQE the pair's count also runs its
    // partial-aggregate and result stages as jobs
    assert(jobs.size === 1, s"one job fills the cache, got ${jobs.size}")
    assert(pairJobs > jobs.size, s"the hand-written pair ran $pairJobs jobs")
    assert(shared.storageLevel !== StorageLevel.NONE)
    assert(evals.value === 1000L, "the fill evaluated every row once")
    evals.reset()
    val byKey = shared.groupBy(col("k")).count().collect()
    assert(byKey.map(_.getLong(1)).sum === 1000L)
    assert(evals.value === 0L, "the second action read the cache, not the lineage")
    shared.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("share: a fill that throws leaves no cache behind") {
    spark.catalog.clearCache()
    val boom = udf((x: Long) => { if (x >= 0L) throw new IllegalStateException("boom"); x })
    val bad = spark.range(0L, 10L).select(boom(col("id")).as("x"))
    intercept[Exception](Exec.share(bad))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("session factory: local[4], UTC, nanosAsLong, no UI, warehouse under target/, WARN") {
    val s = Exec.session(4)
    assert(s eq spark) // the suites share the factory's session
    assert(s.sparkContext.master === "local[4]")
    Seq("spark.sql.shuffle.partitions" -> "4", "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true", "spark.ui.enabled" -> "false")
      .foreach { case (k, v) => assert(s.sparkContext.getConf.get(k) === v, k) }
    assert(s.conf.get("spark.sql.warehouse.dir").endsWith("target/spark-warehouse"))
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ===
      org.apache.logging.log4j.Level.WARN)
  }

  test("spread: a one-partition frame is hash-partitioned on the key to default parallelism") {
    val par = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0L, 1000L, 1L, 1).select((col("id") % 37).as("k"))
    val spread = Exec.spread(narrow, col("k"))
    assert(spread.rdd.getNumPartitions === par)
    spread.queryExecution.analyzed match {
      case r: RepartitionByExpression =>
        assert(r.optNumPartitions === Some(par))
        assert(r.partitionExpressions.map(_.sql) === Seq("k"))
      case p => fail(s"expected a hash repartition on k, got:\n$p")
    }
    // every key lands in exactly one partition
    val spans = spread.withColumn("pid", spark_partition_id())
      .groupBy(col("k")).agg(countDistinct(col("pid")).as("n")).collect()
    assert(spans.length === 37 && spans.forall(_.getLong(1) === 1L))
  }

  test("spread: a frame already as wide as default parallelism comes back unchanged") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0L, 1000L, 1L, par).toDF()
    assert(Exec.spread(wide, col("id")) eq wide)
  }

  test("concurrently: results come back in submission order; an arm's exception reaches the caller") {
    // the first arm finishes last, so completion order differs from submission order
    val out = Exec.concurrently(
      () => { Thread.sleep(200); spark.range(0L, 10L).count() },
      () => spark.range(0L, 20L).count(),
      () => 30L)
    assert(out === Seq(10L, 20L, 30L))
    val e = intercept[IllegalStateException] {
      Exec.concurrently(() => 1, () => throw new IllegalStateException("arm failed"))
    }
    assert(e.getMessage === "arm failed")
  }

  test("runEach: a throwing entry fails alone, and the cache is empty after every entry") {
    spark.catalog.clearCache()
    val names = SparkEntry.queries.keys.take(3).toSeq
    val cacheEmptyOnEntry = mutable.Buffer.empty[Boolean]
    val results = SparkEntry.runEach(spark, names.toSet) { (name, fn) =>
      cacheEmptyOnEntry += spark.sharedState.cacheManager.isEmpty
      // every entry persists a frame; the middle one then throws
      val cached = spark.range(0L, 100L).persist()
      assert(cached.count() === 100L)
      if (name == names(1)) throw new IllegalStateException(s"boom in $name")
      fn(spark, sf).limit(1).count()
    }
    assert(results.map(_._1) === names) // registry order, all three ran
    assert(results(0)._2.isRight && results(2)._2.isRight)
    assert(results(1)._2.left.toOption.map(_.getMessage) === Some(s"boom in ${names(1)}"))
    assert(cacheEmptyOnEntry.toSeq === Seq(true, true, true))
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
