package graft.tools

/** Executed-plan auditor for SCALE.md evidence: runs named SparkEntry
  * queries and prints one line of operator COUNTS from the EXECUTED
  * (post-AQE) plan per query — the multi-query companion to
  * [[graft.tools.BenchOne]]'s single-query `explain` mode (the full
  * `explain("formatted")` dump beside a per-stage profile). `sbt 'Test/runMain graft.tools.PlanAudit <query...>'`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_agg")
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.count() // force AQE to finalize the executed plan
      val plan = df.queryExecution.executedPlan.toString
      def cnt(re: String) = re.r.findAllIn(plan).length
      println(s"AUDIT $name exchanges=${cnt("Exchange hashpartitioning")} " +
        s"broadcasts=${cnt("BroadcastExchange")} " +
        s"smj=${cnt("SortMergeJoin")} bhj=${cnt("BroadcastHashJoin")} " +
        s"window=${cnt("RunningWindowFunction|Window")} " +
        s"bnlj=${cnt("BroadcastNestedLoop")} cartesian=${cnt("CartesianProduct")}")
    }
    spark.stop()
  }
}
