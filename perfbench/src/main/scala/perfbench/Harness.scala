package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.{Cleanse, Derive, Dims, Publish, StarSchema}

/** One benchmark run in one JVM: set up a session, warm up, then run the
  * workload's operations one at a time (a closed loop with one client)
  * until the measuring time is used, recording wall-clock spans around
  * every public call. With tracing on, units (months, or passes over the
  * query list) run untraced, traced, traced, untraced, ... so the traced
  * and untraced timings of the same run give the overhead, balanced
  * against the JVM still warming up over the run.
  *
  * Usage: Harness <run.properties>. The properties name the workload, the
  * generated inputs, a work directory and the output file; run.py
  * writes them.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val p = new Properties()
    val in = new FileInputStream(args(0))
    try p.load(in) finally in.close()
    val prop = (k: String) => Option(p.getProperty(k)).getOrElse(sys.error(s"missing property $k"))
    val workload = prop("workload")
    val cpus = prop("cpus")
    val work = prop("work_dir")
    val spans = new Spans(prop("run_id"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, spans, prop, prop("trace") == "1", prop("seconds").toDouble)
    val ops = workload match {
      case "etl_month" => run.etlMonth()
      case "registry_mix" => run.registry()
      case w => sys.error(s"unknown workload $w")
    }
    // before the calibration job below, which is not part of the workload
    val peakRssKb = Run.peakRssKb()
    val context = run.context(cpus.toInt)
    val out = new PrintWriter(prop("out"), "UTF-8")
    try {
      out.println(Json.obj(Seq(
        "workload" -> workload,
        "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
        "first_op_ms" -> run.firstOpMs,
        "peak_rss_kb" -> peakRssKb,
        "context" -> context,
        "sql" -> Map("cleanse" -> Cleanse.cleanseSql, "derive" -> Derive.deriveSql),
        "ops" -> ops)).dropRight(1) +
        ",\"spans\":" + spans.json.mkString("[", ",\n", "]") +
        ",\"jobs\":" + run.recorder.jobs.mkString("[", ",\n", "]") +
        ",\"stages\":" + run.recorder.stages.mkString("[", ",\n", "]") +
        ",\"queries\":" + run.recorder.queries.mkString("[", ",\n", "]") + "}")
    } finally out.close()
    spark.stop()
  }
}

object Run {
  /** Discarded passes before timing starts: on a 4-core host the JIT still
    * speeds passes up through the second. (The number of discarded months
    * comes with the inputs, which give them fewer rows.)
    */
  val WarmupPasses = 2
  /** Timed months at least, whatever the measuring time. */
  val MinMonths = 4

  /** Peak resident set of this process (Linux), in KiB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(-1L)

  /** Order-insensitive fingerprint of a result: the sum of 64-bit row
    * hashes. Doubles are compared at 12 significant digits, so a last-ulp
    * difference in a floating aggregate does not change it.
    */
  def fingerprint(rows: Array[Row]): String =
    f"${rows.iterator.map(r => rowHash(render(r))).sum}%016x"

  private def rowHash(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d == 0.0) "0" else if (d.isNaN || d.isInfinite) d.toString else f"$d%.12g"
    case f: Float => render(f.toDouble)
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }
}

final class Run(spark: SparkSession, spans: Spans, prop: String => String,
    trace: Boolean, seconds: Double) {
  val recorder = new Recorder
  var firstOpMs: Double = Double.NaN

  /** Attach the listeners for one traced unit, and detach them (after the
    * bus has delivered the unit's events) outside the timed window.
    */
  private def unit[T](index: Int)(body: Boolean => T): T = {
    val traced = trace && (index % 4 == 1 || index % 4 == 2)
    if (!traced) return body(false)
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    try body(true) finally {
      recorder.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
      spark.listenerManager.unregister(recorder)
    }
  }

  private def startClock(): Unit = firstOpMs = spans.nowMs

  private def keepGoing(done: Int, minUnits: Int): Boolean =
    done < minUnits || spans.nowMs - firstOpMs < seconds * 1000

  // ------------------------------------------------------------------
  // etl_month: Job-1 into the catalog, Job-2 into Derby, JDBC readback
  // ------------------------------------------------------------------

  private val factTable = "perfbench.fact_trips"
  private val jdbcUrl = "jdbc:derby:memory:perfbench;create=true"
  private val jdbcTarget = "fact_uber_trips"
  private def jdbcProps: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  /** Derby folds the unquoted table names Spark's writer creates to upper case. */
  private def probeSql(table: String): String =
    s"(SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME = '${table.toUpperCase}') p"

  private def dims: Seq[(String, () => DataFrame)] = Seq(
    "dim_vendors" -> (() => Dims.dimVendors(spark)),
    "dim_ratecode" -> (() => Dims.dimRatecode(spark)),
    "dim_store_and_fwd_flag" -> (() => Dims.dimStoreAndFwdFlag(spark)),
    "dim_payment_type" -> (() => Dims.dimPaymentType(spark)),
    "dim_trip_peak_band" -> (() => Dims.dimTripPeakBand(spark)),
    "dim_date" -> (() => Dims.dimDate(spark)),
    "dim_time" -> (() => Dims.dimTime(spark)),
    "dim_taxi_zone_lookup" -> (() => Dims.dimTaxiZoneLookup(spark)))
  require(dims.map(_._1) == Publish.dimTables, "dim list out of step with Publish.dimTables")

  def etlMonth(): Seq[Map[String, Any]] = {
    // "2024-01=/path/raw.parquet,..." — the first months are the warm-up
    val months = prop("months").split(',').toSeq.map { m =>
      val Array(ym, path) = m.split("=", 2)
      val Array(y, mo) = ym.split("-")
      (y, mo.toInt.toString, path)
    }
    val warmup = prop("warmup_months").toInt
    val results = ArrayBuffer.empty[Map[String, Any]]
    spans.time("setup.warmup") {
      months.take(warmup).foreach(m => results += runMonth(m, warm = true, traced = false))
    }
    startClock()
    var i = warmup
    while (i < months.size && keepGoing(i - warmup, Run.MinMonths)) {
      results += unit(i - warmup)(traced => runMonth(months(i), warm = false, traced))
      i += 1
    }
    results.toSeq
  }

  private def runMonth(m: (String, String, String), warm: Boolean, traced: Boolean): Map[String, Any] = {
    val (year, month, path) = m
    val label = s"$year-$month"
    val root = spans.open(if (warm) "warmup.month" else "month",
      Map("month" -> label, "traced" -> traced))
    try {
      val t0 = spans.nowMs
      val (fact, intake, output) = spans.time("etl.job1.plan") {
        StarSchema.transformObserved(spark.read.parquet(path), year, month)
      }
      spans.time("etl.job1.write") { StarSchema.writeFact(fact, factTable) }
      val starReady = spans.nowMs - t0
      spans.time("etl.publish.dims") {
        dims.foreach { case (name, df) =>
          Publish.publishDimIfAbsent(spark, name, df(), jdbcUrl, jdbcProps, probeSql)
        }
      }
      val published = spans.time("etl.publish.fact") {
        Publish.publishFactMonth(spark, factTable, year, month, jdbcUrl, jdbcTarget, jdbcProps)
      }
      val readback = spans.time("etl.publish.readback") {
        spark.read.jdbc(jdbcUrl,
          s"""(SELECT COUNT(*) AS N FROM ${jdbcTarget.toUpperCase}
             |WHERE CAST("processed_year" AS VARCHAR(8)) = '$year'
             |AND CAST("processed_month" AS VARCHAR(8)) = '$month') r""".stripMargin,
          jdbcProps).head().getInt(0).toLong
      }
      val publishedS = spans.nowMs - t0
      spans.close(root)
      // correctness inputs, outside the timed window
      val catalogRows = spark.table(factTable)
        .filter(col("processed_year") === year && col("processed_month") === month).count()
      val partDir = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        s"perfbench.db/fact_trips/processed_year=$year/processed_month=$month")
      val files = Option(partDir.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-"))
      Map("op" -> label, "path" -> path, "warm" -> warm, "traced" -> traced,
        "star_ready_ms" -> starReady, "published_ms" -> publishedS,
        "fact_rows" -> output.get("n_rows"),
        "intake" -> intake.get.map { case (k, v) => k -> v.toString },
        "catalog_rows" -> catalogRows, "published_rows" -> published,
        "readback_rows" -> readback, "files_written" -> files.length,
        "bytes_on_disk" -> files.map(_.length).sum)
    } catch {
      case e: Throwable =>
        if (spans.all(root - 1).end.isNaN) spans.close(root)
        Map("op" -> label, "path" -> path, "warm" -> warm, "traced" -> traced,
          "error" -> (e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300)))
    }
  }

  // ------------------------------------------------------------------
  // registry_mix: one query at a time through SparkEntry.queries
  // ------------------------------------------------------------------

  def registry(): Seq[Map[String, Any]] = {
    val dataDir = prop("data_dir")
    val order = prop("queries").split(',').toSeq
    val fns = graft.SparkEntry.queries
    def query(name: String, pass: Int): Map[String, Any] = {
      val id = spans.open("query", Map("query" -> name, "pass" -> pass))
      val res = try {
        val df = spans.time("entry.build") { fns(name)(spark, dataDir) }
        val rows = spans.time("entry.action") { df.collect() }
        spans.close(id)
        Map("rows" -> rows.length, "fingerprint" -> Run.fingerprint(rows))
      } catch {
        case e: Throwable =>
          if (spans.all(id - 1).end.isNaN) spans.close(id)
          Map("error" -> (e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300)))
      }
      // cached intermediates of one entry must not carry into the next
      spark.catalog.clearCache()
      res ++ Map("op" -> name, "pass" -> pass)
    }
    val results = ArrayBuffer.empty[Map[String, Any]]
    spans.time("setup.warmup") {
      (1 to Run.WarmupPasses).foreach(w => results ++= order.map(query(_, -w)))
    }
    startClock()
    var pass = 0
    // at least two passes (four when traced: two of each kind)
    while (keepGoing(pass, if (trace) 4 else 2)) {
      results ++= unit(pass) { traced =>
        spans.time("pass", Map("pass" -> pass, "traced" -> traced)) { order.map(query(_, pass)) }
      }
      pass += 1
    }
    results.toSeq
  }

  // ------------------------------------------------------------------

  /** Host context: the repo's calibration job (a fixed CPU-bound hash sum,
    * shrunk to 1e8 rows; the first call compiles it) and the 1-minute load
    * average.
    */
  def context(cpus: Int): Map[String, Any] = {
    val n = 100000000L
    def calib(): Double = {
      val t0 = System.nanoTime()
      graft.Bench.calibFrame(spark, cpus, n).head()
      (System.nanoTime() - t0) / 1e9
    }
    calib()
    Map("calib_s" -> calib(), "calib_rows" -> n, "cpus" -> cpus,
      "load_avg_1m" -> java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"))
  }
}
