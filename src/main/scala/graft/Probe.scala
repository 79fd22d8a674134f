package graft
import org.apache.spark.scheduler._
import scala.collection.mutable
/** Optimization-round instrumentation: run ONE registry query with a
  * stage-metrics listener and print a per-stage cost table (wall span,
  * summed executor run time, shuffle read/write bytes, task count, name)
  * for the WARM pass, so the expensive stage of a multi-job query is
  * identifiable without the Spark UI. Usage:
  *   runMain graft.Probe <sfDir> <q_a,q_b,...>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val selected = names.split(',').map(_.trim).filter(_.nonEmpty).toSet
    val unknown = selected -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown registry entries: ${unknown.mkString(", ")}")
    val spark = Exec.session()
    // cold pass: codegen/JIT, mirrors Bench's discarded warm-up
    SparkEntry.runEach(spark, selected)((_, fn) => fn(spark, sfDir).count())
    SparkEntry.runEach(spark, selected) { (name, fn) =>
      val stages = mutable.Map.empty[Int, StageInfo]
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
          stages(sc.stageInfo.stageId) = sc.stageInfo
      }
      spark.sparkContext.addSparkListener(listener)
      val dt = try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } finally {
        Thread.sleep(500) // let the listener bus drain before detaching
        spark.sparkContext.removeSparkListener(listener)
      }
      println(f"%nPROBE $name warm pass: $dt%.3f s, ${stages.size} stages")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s ${"sh_r_kb"}%8s ${"sh_w_kb"}%8s ${"tasks"}%6s  name")
      stages.toSeq.sortBy(_._1).foreach { case (id, i) =>
        val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(-1L)
        def m(f: org.apache.spark.executor.TaskMetrics => Long) = Option(i.taskMetrics).map(f).getOrElse(0L)
        println(f"$id%6d $wall%8d ${m(_.executorRunTime)}%8d ${m(_.executorCpuTime) / 1000000L}%8d " +
          f"${m(_.shuffleReadMetrics.totalBytesRead) / 1024}%8d ${m(_.shuffleWriteMetrics.bytesWritten) / 1024}%8d " +
          f"${i.numTasks}%6d  ${i.name.take(90)}")
      }
    }.foreach { case (name, r) => r.left.foreach(e => println(s"PROBE $name failed: $e")) }
    spark.stop()
  }
}
