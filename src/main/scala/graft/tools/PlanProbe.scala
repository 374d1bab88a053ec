package graft.tools

/** Dev-only plan-stability probe (r12): re-run one registered query in a
  * single JVM and print, per rep, the wall time next to a canonical
  * fingerprint of the FINAL adaptive plan (node names with expression ids
  * and plan ids stripped) plus its join/skew markers and the contemporaneous
  * host load. Purpose: attribute run-to-run variance — identical plan hashes
  * across fast and slow reps pin the variance on host contention; differing
  * hashes expose an AQE strategy flip worth chasing. Run with
  * `runMain graft.tools.PlanProbe [sfDir] [queryName] [reps]`. */
object PlanProbe {

  // load sampling shared with the bench so the two tools' load figures
  // stay cross-referenceable by construction
  private def loadavg(): Double = graft.Bench.loadavg()

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q123_association_lift"
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = graft.Engine.session("plan-probe")
    graft.Engine.quietSweepLogging()
    for (i <- 1 to reps) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count() // executes THIS QueryExecution, so
                                      // the inspected adaptive plan is final
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan.toString
      val shape = plan.linesIterator
        .map(_.replaceAll("#\\d+L?", "#x").replaceAll("plan_id=\\d+", "")
          .replaceAll("^[+\\-:|\\s*]+", ""))
        .filter(_.headOption.exists(_.isUpper))
        .map(_.takeWhile(c => c.isLetterOrDigit || c == '='))
        .mkString("|")
      val hash = java.security.MessageDigest.getInstance("MD5")
        .digest(shape.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      def n(p: String): Int = p.r.findAllIn(plan).length
      println(f"PLANPROBE rep=$i%d sec=$sec%.3f plan=$hash " +
        f"bhj=${n("BroadcastHashJoin")}%d smj=${n("SortMergeJoin")}%d " +
        f"skew=${n("skew=true")}%d aqeReads=${n("AQEShuffleRead")}%d " +
        f"load1m=${loadavg()}%.2f")
      graft.Engine.resetBetweenQueries(spark)
    }
    spark.stop()
  }
}
