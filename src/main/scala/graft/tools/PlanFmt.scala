package graft.tools

/** Dev probe: write `.explain("formatted")` for one or more registry
  * queries to `<outDir>/<query>_<tag>.txt` — the optimization round's
  * plan-evidence artifact (plans/r16/). Iterative kernels execute their
  * rounds during plan construction; the dump is the RETURNED plan (the
  * one the bench's action runs), which is the comparable object across
  * a rewrite. `runMain graft.tools.PlanFmt <sfDir> <outDir> <tag> <q1> [q2 ...]` */
object PlanFmt {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val outDir = args(1); val tag = args(2)
    val names = args.drop(3)
    new java.io.File(outDir).mkdirs()
    val spark = graft.Engine.session("plan-fmt")
    graft.Engine.quietSweepLogging()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      // execute so the dumped plan is the AQE-final one, not the initial
      df.count()
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val executed = df.queryExecution.executedPlan.toString
      val w = new java.io.PrintWriter(s"$outDir/${name}_$tag.txt")
      try {
        w.println(s"== $name @ $dir (${java.time.Instant.now}) ==")
        w.println(formatted)
        w.println("\n== executed (AQE-final) ==")
        w.println(executed)
      } finally w.close()
      graft.Engine.resetBetweenQueries(spark)
      println(s"PLANFMT wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
