package graft

import graft.plan.PinPlans

/** Dev tool: print `.explain("formatted")` for named queries to files
  * under an output dir (arg 0), one `<query>.txt` each — the plan
  * evidence the optimization rounds commit under plans/rNN/: the
  * initial plan, then the final adaptive plan after one execution
  * (what adaptive re-planning chose, e.g. the one-task output sort),
  * then the executed plan of every pin (`localCheckpoint`) the query
  * made while it was built — a pinned frame reads back as a bare RDD
  * scan, so the dataflow under it shows only there.
  * Bench session shape (same confs), so the plans match what the bench
  * runs.
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = LocalSession.sfDir
    val outDir = args.head
    new java.io.File(outDir).mkdirs()
    val spark = LocalSession.build()
    args.drop(1).foreach { name =>
      val plan =
        try {
          val (df, pins) = PinPlans.during(spark)(SparkEntry.queries(name)(spark, sfDir))
          val qe = df.queryExecution
          val formatted = org.apache.spark.sql.execution.FormattedMode
          val initial = qe.explainString(formatted)
          // one execution with every row discarded (the noop sink's
          // work) fixes the final adaptive plan
          qe.toRdd.foreach(_ => ())
          val pinned = pins.zipWithIndex.map { case (p, i) =>
            s"\n== Pin ${i + 1} of ${pins.size} (executed plan) ==\n$p" }
          s"$initial\n== Final adaptive plan (after one execution) ==\n" +
            qe.explainString(formatted) + pinned.mkString
        } catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      val w = new java.io.PrintWriter(s"$outDir/$name.txt")
      try w.println(plan) finally w.close()
      println(s"explained $name -> $outDir/$name.txt")
    }
    spark.stop()
  }
}
