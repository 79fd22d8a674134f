package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The host-calibration job: 2B xxhash64 over a generated range,
    * reduced to ONE row the caller must consume by value (head()), so no
    * Catalyst rule can prune the hashing out. The sum is over `hash mod
    * 1e6` so it cannot overflow a LONG under ANSI (|v| < 1e6 bounds it by
    * 2e15). BenchCalibSpec asserts the executed plan still hashes. */
  def calibFrame(spark: SparkSession, cpus: Int,
      n: Long = 2000000000L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, sum, xxhash64}
    spark.range(0L, n, 1L, cpus)
      .select(sum(xxhash64(col("id")) % lit(1000000L)).as("calib_hash"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Exec.cpus
    val spark = Exec.session(cpus)
    // optional comma-separated subset for local iteration on one query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    // A failed query records its error, never its time-to-crash. The label
    // is the full class name plus a message fragment, JSON-escaped here.
    def describe(e: Throwable): String = {
      val msg = Option(e.getMessage).getOrElse("").take(120)
        .flatMap {
          case '"'           => "\\\""
          case '\\'          => "\\\\"
          case c if c < ' '  => " "
          case c             => c.toString
        }
      e.getClass.getName + (if (msg.isEmpty) "" else ": " + msg)
    }
    def timedCount(select: String => Boolean): Seq[(String, Either[Throwable, Double])] =
      SparkEntry.runEach(spark, select) { (_, fn) =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
    def runAll(): Seq[(String, Either[Throwable, Double])] = timedCount(n => only.forall(_.contains(n)))
    // discarded warm-up pass: one-time codegen/JIT/classloading costs a
    // long-lived session amortizes away
    runAll()
    // fixed-work host calibration under the same warm-up + min-of-passes
    // discipline: same calib + higher total = regression, not host drift
    def calibPass(): Double = {
      val t0 = System.nanoTime()
      // consume the hashed sum: `.count()` would prune the xxhash64 away
      // (BenchCalibSpec asserts it survives)
      calibFrame(spark, cpus).head()
      (System.nanoTime() - t0) / 1e9
    }
    // per-query MIN over the timed passes suppresses host latency spikes;
    // SPARK_GRAFT_PASSES overrides
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    calibPass() // discarded warm-up (codegen/JIT), mirroring the queries
    val calib = Seq.fill(passes)(calibPass()).min
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val recorded = Seq.fill(passes)(runAll())
    // A query that failed in ANY pass records the sentinel -1 (never a time)
    // and lands in the "errors" list — a broken query must visibly poison
    // the artifact, not speed it up.
    val results = recorded.head.indices.map { i =>
      val name = recorded.head(i)._1
      val times = recorded.map(_(i)._2)
      name -> (if (times.exists(_.isLeft)) -1.0 else times.flatMap(_.toOption).min)
    }
    val errors = recorded.head.indices.flatMap { i =>
      recorded.flatMap(_(i)._2.left.toOption).headOption
        .map(e => recorded.head(i)._1 + ":" + describe(e))
    }
    // SPIKE GUARD: against the previous full-registry record
    // (bench_latest.json, read before this run overwrites it), a query
    // whose new min exceeds 5× its record while the host calibration is
    // flat (within 15%) gets ONE extra pass, keeping the min; healed names
    // are listed in the artifact's "respiked" field.
    val (priorQ, priorCalib) = (try {
      val src = scala.io.Source.fromFile("bench_latest.json")
      val txt = try src.mkString finally src.close()
      val i = txt.indexOf("\"queries\":{")
      val qs =
        if (i < 0) Map.empty[String, Double]
        else "\"([^\"]+)\":(-?[0-9.]+)".r
          .findAllMatchIn(txt.substring(i + 11, txt.indexOf('}', i)))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      (qs, "\"calib\":([0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble).getOrElse(-1.0))
    } catch { case _: Throwable => (Map.empty[String, Double], -1.0) })
    val calibFlat = priorCalib > 0 && calib > 0 &&
      math.abs(calib - priorCalib) / priorCalib <= 0.15
    val respiked =
      if (!calibFlat) Seq.empty[String]
      else results.collect {
        case (name, v) if v > 0 && priorQ.get(name).exists(p =>
          p > 0 && v > 5 * p && v - p > 2.0) => name
      }
    val healed = timedCount(respiked.toSet).map { case (name, r) =>
      name -> r.getOrElse(Double.MaxValue)
    }.toMap
    val healedResults = results.map { case (n, v) =>
      n -> healed.get(n).map(h => math.min(h, v)).getOrElse(v)
    }
    // The printed line is the LAST stdout line and must fit a ~2000-char
    // tail: shrink 2 decimals → 1 decimal → drop the fastest entries with
    // an explicit "omitted" count. bench_latest.json keeps full precision.
    // total sums SUCCESSFUL queries only; failures are flagged in "errors".
    val total = healedResults.map(_._2).filter(_ >= 0).sum
    def fmtN(d: Int)(v: Double): String = BigDecimal(v)
      .setScale(d, BigDecimal.RoundingMode.HALF_UP).toString
    def line(rs: Seq[(String, Double)], f: Double => String, omitted: Int): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + (if (v < 0) "-1" else f(v)) }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","omitted":$omitted""" else ""
      // always emitted: an explicit empty list is the "zero failures" claim
      val er = errors.map("\"" + _ + "\"")
        .mkString(""","errors":[""", ",", "]")
      // always emitted, like errors: an explicit empty list is the
      // "no spike self-healed this run" claim
      val rsk = respiked.map("\"" + _ + "\"")
        .mkString(""","respiked":[""", ",", "]")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs$om$er$rsk,""" +
        s""""calib":${fmtN(3)(calib)},"load_avg":${fmtN(2)(loadAvg)},"sf":"$sfDir"}"""
    }
    // full-precision copy, FULL-REGISTRY RUNS ONLY: SCALING.md's heavies
    // and selfcheck's SCALEGAP guard read it as the full registry
    if (only.isEmpty) try {
      val w = new java.io.PrintWriter("bench_latest.json")
      try w.println(line(healedResults, _.toString, 0)) finally w.close()
    } catch { case _: Throwable => () }
    val budget = 1900 // 2000-char tail minus newline/jitter margin
    val full2 = line(healedResults, fmtN(2), 0)
    val out =
      if (full2.length <= budget) full2
      else {
        val full1 = line(healedResults, fmtN(1), 0)
        if (full1.length <= budget) full1
        else {
          val byCost = healedResults.sortBy { case (_, v) => -v }
          (healedResults.size - 1 to 0 by -1).iterator
            .map(n => line(byCost.take(n), fmtN(1), healedResults.size - n))
            .find(_.length <= budget)
            .getOrElse(line(Seq.empty, fmtN(1), healedResults.size))
        }
      }
    println(out)
    spark.stop()
  }
}
