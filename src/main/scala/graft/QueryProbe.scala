package graft

/** Solo-query profiler: `runMain graft.QueryProbe <queryName> [sfDir] [reps]`.
  * Times one registered query in isolation (warmup + `reps` steady-state
  * runs) and prints the final physical plan — the loop used to separate a
  * real plan regression from the host's load variance before touching code.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    def usage = s"usage: QueryProbe <name> [sfDir] [reps]; names: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"
    require(args.nonEmpty, usage)
    val name = args(0)
    require(SparkEntry.queries.contains(name), s"unknown query '$name'; $usage")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val fn = SparkEntry.queries(name)
    val spark = Engine.session("query-probe")
    Engine.quietSweepLogging() // cold-rep sweeps below are intentional
    // Bench semantics: the block store is NOT reset between reps (Bench
    // clears between QUERIES, so a query's warmup rep warms any
    // SharedFrames entry for its timed reps) — a probe that cleared per
    // rep reproduced numbers no bench run would ever show. Set
    // SPARK_GRAFT_PROBE_COLD=1 to clear per rep (every rep pays the
    // shared-frame build: the cold-session cost model).
    val coldReps = sys.env.get("SPARK_GRAFT_PROBE_COLD").exists(_.nonEmpty)
    (0 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val tag = if (i == 0) "warmup" else s"run$i"
      println(f"PROBE $name $tag ${(System.nanoTime - t0) / 1e9}%.2f s ($n rows)")
      if (coldReps) Engine.resetBetweenQueries(spark)
    }
    val df = fn(spark, dir)
    df.count()
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
