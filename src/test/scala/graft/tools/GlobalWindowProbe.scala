package graft.tools

import org.apache.spark.sql.execution.SparkPlan

/** Dev probe: list every registered query whose physical plan contains an
  * UNPARTITIONED window (windowspecdefinition with no partition columns —
  * the first argument carries an ASC/DESC marker). These move all rows to
  * one partition, which is only acceptable on bounded frames; the
  * PlanQualitySpec whitelist is built from this probe's output.
  * `sbt "Test/runMain graft.tools.GlobalWindowProbe [sfDir]"`. */
object GlobalWindowProbe {

  // no partition columns at all, OR a partition spec of bare integer
  // literals only (partition by 1 — semantically the same single
  // partition): the first non-literal argument carries the ASC/DESC
  // marker of the ORDER spec
  private[graft] val GlobalWindowRe =
    ("""windowspecdefinition\((\d+, )*[^,()]+ (ASC|DESC)""" +
      """|windowspecdefinition\((\d+, )*specifiedwindowframe""").r

  private[graft] def hasGlobalWindow(plan: SparkPlan): Boolean =
    GlobalWindowRe.findFirstIn(plan.toString).isDefined

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Engine.session("gw-probe", cpus = 8)
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      try {
        val plan = graft.SparkEntry.queries(n)(spark, dir)
          .queryExecution.executedPlan
        if (hasGlobalWindow(plan)) println(s"[gw] $n")
      } catch { case e: Throwable =>
        println(s"[gw] $n ERR ${e.getClass.getSimpleName}")
      }
    }
    println("[gw] done")
    spark.stop()
  }
}
