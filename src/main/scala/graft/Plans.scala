package graft
import java.nio.file.{Files, Paths}
/** Optimization-round tooling: dump each named query's formatted physical
  * plan to `<outDir>/<name>_<tag>.txt` so plan-shape claims (Exchange
  * counts, join strategies, PushedFilters) are auditable without running
  * Spark. Usage:
  *   runMain graft.Plans <sfDir> <outDir> <tag> [q_a,q_b,...]
  * with no query list, dumps every registry entry.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tag, only) = args match {
      case Array(s, o, t)    => (s, o, t, None)
      case Array(s, o, t, f) => (s, o, t, Some(f.split(',').map(_.trim).toSet))
    }
    val spark = Exec.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.runEach(spark, n => only.forall(_.contains(n))) { (name, fn) =>
      // explainString is the programmatic form of df.explain("formatted")
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
    }.foreach { case (name, r) =>
      r.left.foreach(e => System.err.println(s"[plans] $name failed: ${e.getMessage}"))
    }
    println("[plans] done")
    spark.stop()
  }
}
