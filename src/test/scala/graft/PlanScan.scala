package graft

/** Dev diagnostic (not a spec): dump physical-plan shape counters for
  * registry queries — cartesians, nested-loop joins, single-partition
  * exchanges, sort-merge vs broadcast joins, hash exchanges. Run with:
  *
  *   sbt "Test/runMain graft.PlanScan [q_name,q_name,...]"
  *
  * No assertion here because several counters are legitimately non-zero
  * for specific queries (1-row crossJoins plan as BroadcastNestedLoop,
  * documented global sorts plan SinglePartition exchanges); the value is
  * the REVIEW — an unexpected counter on a new query is a plan bug the
  * oracle can't see. RegistrySmokeSpec owns the hard correctness gate.
  */
object PlanScan {
  def main(args: Array[String]): Unit = {
    val spark = Exec.session(4)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val only = args.headOption.map(_.split(',').toSet)
    SparkEntry.runEach(spark, n => only.forall(_.contains(n))) { (n, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      def c(p: String) = p.r.findAllIn(plan).length
      println(f"$n%-28s cart=${c("CartesianProduct")} bnl=${c("BroadcastNestedLoopJoin")} " +
        f"single=${c("Exchange SinglePartition")} smj=${c("SortMergeJoin")} " +
        f"bhj=${c("BroadcastHashJoin")} hashex=${c("Exchange hashpartitioning")}")
    }.foreach { case (n, r) => r.left.foreach(e => println(s"$n FAILED: ${e.getClass.getName}")) }
    spark.stop()
  }
}
