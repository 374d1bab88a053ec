package graft.tools

/** Dev probe: wall-clock the q28 pair pipeline at forced j tiers on a
  * fixture — the j cost-calibration is measured, never argued.
  * `runMain graft.tools.JProbe <sfDir> <j> [reps]` */
object JProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val j = args(1).toInt
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Engine.session("j-probe")
    graft.Engine.quietSweepLogging()
    val docs = graft.Tables.load(spark, dir, "documents")
    for (r <- 0 to reps) {
      val t0 = System.nanoTime()
      val n = graft.dedup.Dedup
        .simHashPairsPortable(docs, forceJ = Some(j)).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"JPROBE j=$j rep=$r pairs=$n sec=$dt%.2f")
      graft.Engine.resetBetweenQueries(spark)
    }
    spark.stop()
  }
}
