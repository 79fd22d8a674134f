package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the run record (no library dependency). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null            => "null"
    case s: String       => str(s)
    case b: Boolean      => b.toString
    case d: Double       => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number       => n.toString
    case m: Map[_, _]    => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o: Option[_]    => o.map(value).getOrElse("null")
    case x               => str(x.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Wall-clock spans around the public calls the benchmark makes. Times are
  * epoch milliseconds with sub-millisecond resolution, on the same clock as
  * Spark's listener timestamps, so jobs and stages can be attributed to the
  * span they started in.
  */
final class Spans(runId: String) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  import Spans.Span
  val all = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def open(name: String, attrs: Map[String, Any] = Map.empty): Int = {
    val s = Span(all.size + 1, name, stack.headOption.getOrElse(0), nowMs, attrs = attrs)
    all += s
    stack = s.id :: stack
    s.id
  }

  def close(id: Int): Double = {
    val s = all(id - 1)
    s.end = nowMs
    stack = stack.dropWhile(_ != id).drop(1)
    s.end - s.start
  }

  def time[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = open(name, attrs)
    try body finally close(id)
  }

  def json: Seq[String] = all.toSeq.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run" -> runId, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, start: Double,
      var end: Double = Double.NaN, attrs: Map[String, Any] = Map.empty)
}

/** Records jobs, completed stages (with their aggregated task metrics) and
  * the Catalyst phase timings of every query execution, through Spark's
  * public listener interfaces only. Attribution to spans happens offline.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[String]
  val stages = ArrayBuffer.empty[String]
  val queries = ArrayBuffer.empty[String]

  private val markerKey = "perfbench.marker"
  private var markers = 0
  private var markerStages = Set.empty[Int]
  private var markerJobs = Map.empty[Int, String]
  private var markersSeen = Set.empty[String]

  /** Wait until every event posted before this call has reached the
    * recorder. Listeners added through the public APIs share one queue of
    * the listener bus, which delivers in posting order; so once the end of
    * a marker job run now has arrived, so has everything before it. The
    * marker job itself is left out of the record.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 60000): Unit = {
    val tag = synchronized { markers += 1; s"drain-$markers" }
    sc.setLocalProperty(markerKey, tag)
    try sc.parallelize(Seq(0), 1).foreach(_ => ())
    finally sc.setLocalProperty(markerKey, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!markersSeen(tag) && System.currentTimeMillis() < deadline) wait(100)
      if (!markersSeen(tag)) sys.error(s"listener events not delivered within $timeoutMs ms")
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(markerKey))) match {
      case Some(tag) =>
        markerJobs += e.jobId -> tag
        markerStages ++= e.stageIds
      case None =>
        jobs += Json.obj(Seq("job" -> e.jobId, "time_ms" -> e.time, "stages" -> e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    markerJobs.get(e.jobId).foreach { tag =>
      markersSeen += tag
      notifyAll()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!markerStages(e.stageInfo.stageId)) record(e)
  }

  private def record(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val metrics: Seq[(String, Any)] =
      if (m == null) Nil
      else Seq(
        "run_ms" -> m.executorRunTime,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "bytes_written" -> m.outputMetrics.bytesWritten,
        "records_written" -> m.outputMetrics.recordsWritten)
    stages += Json.obj(Seq(
      "stage" -> i.stageId, "attempt" -> i.attemptNumber(), "tasks" -> i.numTasks,
      "submit_ms" -> i.submissionTime, "done_ms" -> i.completionTime,
      "failed" -> i.failureReason.isDefined) ++ metrics)
  }

  private def phases(qe: QueryExecution): Seq[(String, Any)] =
    qe.tracker.phases.toSeq.map { case (phase, p) =>
      phase -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      queries += Json.obj(Seq("func" -> funcName, "ok" -> true, "phases" -> phases(qe).toMap))
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    synchronized {
      queries += Json.obj(Seq("func" -> funcName, "ok" -> false, "phases" -> phases(qe).toMap))
    }
}
